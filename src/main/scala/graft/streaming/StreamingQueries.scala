package graft.streaming

import graft.{Scratch, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** st5 custom-state types (top-level for implicit Encoders). Timestamps
  * travel as epoch-MICROSECOND longs (the events fixture is exact to the
  * microsecond), so all session arithmetic is integer.
  */
case class SessEvent(user_id: Long, ts: java.sql.Timestamp, ts_us: Long)
case class SessState(start_us: Long, last_us: Long, n: Long)
case class SessionOut(user_id: Long, sess_start: Long, n_events: Long)

/** st23/t25 incremental-packing types (top-level for implicit Encoders). */
case class PackDoc(doc_id: Long, shard: Long, n: Int)
case class PackOpenBin(bin: Int, fill: Int, nDocs: Long, firstDoc: Long, lastDoc: Long)
case class PackBinOut(shard: Long, bin: Int, n_docs: Long, fill_tokens: Long,
    first_doc: Long, last_doc: Long)

/** st24 transformWithState types (top-level for implicit Encoders). */
case class TwsEvent(user_id: Long, ts_us: Long, event_id: Long, k: Long)
case class TwsTotals(cnt: Long, sumK: Long)
case class TwsMilestone(user_id: Long, milestone: Long, event_id: Long,
    cum_k: Long)

/** st24's processor — the Spark 4 `transformWithState` API (the typed
  * successor to flatMapGroupsWithState: named state variables on the
  * RocksDB store, per-variable TTL, timers): one ValueState holding each
  * user's running (count, sum) across micro-batches; a milestone row
  * emits whenever the cumulative count crosses a multiple of `every`.
  * Rows are folded in (ts_us, event_id) order — the fixture's unique
  * total order — so emission is deterministic whatever order the batch
  * iterator delivers (and however the stream is batched).
  */
class MilestoneProcessor(every: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, TwsEvent, TwsMilestone] {
  @transient private var totals
      : org.apache.spark.sql.streaming.ValueState[TwsTotals] = _
  override def init(outputMode: OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    totals = getHandle.getValueState[TwsTotals]("totals",
      org.apache.spark.sql.Encoders.product[TwsTotals],
      org.apache.spark.sql.streaming.TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[TwsEvent],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[TwsMilestone] = {
    val sorted = rows.toArray.sortBy(e => (e.ts_us, e.event_id))
    var st = if (totals.exists()) totals.get() else TwsTotals(0L, 0L)
    val out = scala.collection.mutable.ArrayBuffer.empty[TwsMilestone]
    sorted.foreach { e =>
      st = TwsTotals(st.cnt + 1, st.sumK + e.k)
      if (st.cnt % every == 0)
        out += TwsMilestone(key, st.cnt, e.event_id, st.sumK)
    }
    totals.update(st)
    out.iterator
  }
}

/** The one packing fold, shared by batch t25 (trailing bin flushed) and
  * streaming st23 (trailing bin stays in state): LINEAR in the shard —
  * O(1) state threaded doc to doc, closed bins emitted as they seal.
  * (The first t25 shipped this as a SQL HOF whose accumulator
  * array_append'd every doc — O(shard²) copying, 25.6× on the 10×
  * smoke. A sequential fold wants a typed iterator, not a growing
  * array literal.)
  */
object PackFold {
  /** `onDoc` receives every document's bin id AS IT IS ASSIGNED — the
    * per-doc output t29's purity audit keys on (one (doc, bin) row per
    * doc, so the audit is a keyed equi-join instead of reconstructing
    * assignment through a doc×bins range join). The default no-op keeps
    * the bin-only call sites (t25 batch, st23 streaming) byte-identical.
    */
  def apply(shard: Long, open0: Option[PackOpenBin], sorted: Array[PackDoc],
      budget: Int, onDoc: (PackDoc, Int) => Unit = (_, _) => ())
      : (List[PackBinOut], Option[PackOpenBin]) = {
    var closed = List.empty[PackBinOut]
    var open = open0
    sorted.foreach { dd =>
      open match {
        case Some(o) if o.fill + dd.n <= budget =>
          open = Some(PackOpenBin(o.bin, o.fill + dd.n, o.nDocs + 1,
            o.firstDoc, dd.doc_id))
        case Some(o) =>
          closed ::= PackBinOut(shard, o.bin, o.nDocs, o.fill.toLong,
            o.firstDoc, o.lastDoc)
          open = Some(PackOpenBin(o.bin + 1, dd.n, 1L, dd.doc_id, dd.doc_id))
        case None =>
          open = Some(PackOpenBin(0, dd.n, 1L, dd.doc_id, dd.doc_id))
      }
      onDoc(dd, open.get.bin)
    }
    (closed.reverse, open)
  }
}

/** Oracle-checked streaming entries — each runs a REAL Structured Streaming
  * query (file source over the events fixture → transform → sink, driven to
  * completion with processAllAvailable) and returns a DataFrame whose
  * content is deterministic and batch-equivalent, so the DuckDB oracle can
  * replay it. This closes the only §2-B group that previously had no
  * correctness row (streaming was lib-tested only).
  *
  * Determinism rules: st1 emits only its dedup KEY columns, so the
  * (arrival-order-dependent) survivor row can never leak into the result;
  * st2 runs in complete mode, which by definition equals the batch
  * aggregation once the bounded input is exhausted; both sort with a total
  * ORDER BY. Counts only — no double accumulation crosses the engines.
  */
object StreamingQueries {

  /** The file-stream source requires a DIRECTORY (it pins basePath to the
    * source path); the fixture is a single file. Stage a temp dir holding a
    * symlink to it, once per fixture dir — no data copy.
    */
  private val streamDirs =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def fixtureStreamDir(d: String, table: String): String =
    streamDirs.getOrElseUpdate(s"$d#$table", {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-$table-stream")
      java.nio.file.Files.createSymbolicLink(
        dir.resolve(s"$table.parquet"),
        java.nio.file.Paths.get(s"$d/$table.parquet"))
      dir.toString
    })

  private def eventsDir(d: String): String = fixtureStreamDir(d, "events")

  /** Per-run streaming conf, restored after: a bounded micro-batch run's
    * dominant fixed cost is state-store commits — each micro-batch commits
    * one HDFS-backed store per SHUFFLE PARTITION (per join side for
    * stream-stream) — plus the watermark-advance no-data batch that
    * re-commits every store for zero output rows. So (a) size the state
    * partitioning to the run, the same advice as any shuffle (production
    * sets it to the cluster, these fixtures to a handful), and (b) skip
    * no-data micro-batches wherever results don't depend on one: stateless
    * entries, complete-mode aggs (re-emit the same table), and append-mode
    * dedup/joins (rows emit eagerly; the extra batch only evicts state we
    * are about to stop anyway). st5 is the exception — its event-time
    * TIMEOUTS fire in the batch AFTER the watermark advances, so it keeps
    * no-data batches on (`skipNoData = false`).
    */
  private def withStreamRunConf[T](
      s: SparkSession, parts: Int = 4, skipNoData: Boolean = true)(body: => T): T = {
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = s.conf.getOption(
      "spark.sql.streaming.noDataMicroBatches.enabled")
    s.conf.set("spark.sql.shuffle.partitions", parts.toString)
    if (skipNoData)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try body finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      prevNoData match {
        case Some(v) =>
          s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", v)
        case None =>
          s.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
      }
    }
  }

  /** Raw-schema streaming read of the events fixture. The `ts` physical type
    * has changed across fixture regenerations (ns-long vs us-timestamp); the
    * batch loader's schema tells us which shape this fixture has, and
    * [[graft.Tables.normalizeEventsTs]] applies the matching normalization.
    */
  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = Tables.load(s, d, "events").schema
    Tables.normalizeEventsTs(s.readStream.schema(raw).parquet(eventsDir(d)))
  }

  /** Bench probe: the micro-batch MACHINERY floor — the same file-source
    * staging, checkpoint lifecycle, and per-batch orchestration every st
    * entry pays, with a near-no-op batch body (`isEmpty` = one limit-1
    * task). [[graft.Bench]] times it into `st_machinery_sec` so a reader
    * of the bench record can attribute the st-family's per-entry floor to
    * stream runtime rather than operator cost: each st entry's time is
    * roughly `st_machinery_sec + real operator work`.
    */
  def machineryProbe(s: SparkSession, d: String): Unit = {
    Scratch.withDir("graft-stprobe", ram = true) { root =>
      withStreamRunConf(s) {
        val q = eventsStream(s, d).writeStream
          .option("checkpointLocation", s"$root/chk")
          .foreachBatch { (b: DataFrame, _: Long) => b.isEmpty; () }
          .start()
        q.processAllAvailable()
        q.stop()
      }
    }
  }

  /** st1: streaming exact-dedup on (user_id, event_type) within the
    * watermark horizon (state expires instead of growing forever), emitted
    * through an append-mode parquet sink — the scale path: distributed
    * write, nothing driver-side.
    */
  def streamDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-st1", ram = true) { out =>
      withStreamRunConf(s) {
        val q = eventsStream(s, d)
          .withWatermark("ts", "30 minutes")
          .dropDuplicatesWithinWatermark("user_id", "event_type")
          .select($"user_id", $"event_type")
          .writeStream
          .format("parquet")
          .option("path", s"$out/data")
          .option("checkpointLocation", s"$out/chk")
          .outputMode("append")
          .start()
        q.processAllAvailable()
        q.stop()
      }
      // Materialize off the sink (distributed blocks, lineage cut), then
      // delete the run's sink + checkpoint dirs: repeated invocations must
      // not grow tmpdir. Production keeps both, of course — the temp dirs
      // exist only because this entry drives a bounded stream to completion.
      s.read.parquet(s"$out/data")
        .orderBy($"user_id", $"event_type").localCheckpoint(true)
    }
  }

  val streamDedupSql: String =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  /** st2: [[EventStreams.tumblingCounts]] run AS A STREAM in complete mode;
    * window starts emitted as epoch-second BIGINT like the batch
    * TimeWindows pack.
    */
  def streamTumbling(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val table = "st2_" + java.util.UUID.randomUUID().toString.replace("-", "")
    Scratch.withDir("graft-st2", ram = true) { chk =>
      withStreamRunConf(s) {
        val q = EventStreams.tumblingCounts(eventsStream(s, d))
          .select(unix_timestamp($"w_start").as("w_start"), $"event_type", $"n")
          .writeStream.format("memory").queryName(table)
          .option("checkpointLocation", s"$chk/chk")
          .outputMode("complete")
          .start()
        q.processAllAvailable()
        q.stop()
      }
    }
    // Materialize off the memory sink, then drop its temp view so repeated
    // invocations don't accumulate sink state in the driver.
    val result = s.table(table)
      .orderBy($"w_start", $"event_type").localCheckpoint(true)
    s.catalog.dropTempView(table)
    result
  }

  val streamTumblingSql: String =
    """SELECT (CAST(FLOOR(EPOCH(ts) / 900) AS BIGINT) * 900) AS w_start,
      | event_type, COUNT(*) AS n
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY w_start, event_type""".stripMargin

  /** st3: STREAM-STATIC join — the enrichment shape every event pipeline
    * runs (stream joined per micro-batch against a static dimension, no
    * state, no watermark needed on the join itself): events enriched with
    * the customer's market segment, then complete-mode per-(segment, type)
    * counts. The static side is broadcast — at scale the stream never
    * shuffles for the join.
    */
  def streamEnriched(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cust = graft.Tables.customer(s, d)
      .select($"c_custkey", $"c_mktsegment")
    val table = "st3_" + java.util.UUID.randomUUID().toString.replace("-", "")
    Scratch.withDir("graft-st3", ram = true) { chk =>
      withStreamRunConf(s) {
        val q = eventsStream(s, d)
          .join(broadcast(cust), $"user_id" === $"c_custkey")
          .groupBy($"c_mktsegment", $"event_type")
          .agg(count(lit(1)).as("n"))
          .writeStream.format("memory").queryName(table)
          .option("checkpointLocation", s"$chk/chk")
          .outputMode("complete")
          .start()
        q.processAllAvailable()
        q.stop()
      }
    }
    val result = s.table(table)
      .orderBy($"c_mktsegment", $"event_type").localCheckpoint(true)
    s.catalog.dropTempView(table)
    result
  }

  val streamEnrichedSql: String =
    """SELECT c_mktsegment, event_type, COUNT(*) AS n
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY 1, 2
      |ORDER BY c_mktsegment, event_type""".stripMargin

  /** st4: STREAM-STREAM interval join — click→purchase attribution (every
    * purchase within 1 hour of a click by the same user), the last major
    * Structured Streaming form the suite lacked. Both sides carry a
    * watermark and the join condition bounds event-time distance, so Spark
    * can EXPIRE join state: a click older than watermark+1h can never match
    * a future purchase and is dropped — state is O(events per horizon), not
    * O(stream). Inner-join matches are emitted as soon as both rows have
    * arrived (append mode), so the result set is the exact batch join and
    * deterministic under any micro-batch split. Emits only key columns
    * (event ids), mirroring st1's determinism rule.
    */
  def streamClickAttribution(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = eventsStream(s, d)
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id".as("c_user"), $"ts".as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id".as("p_user"), $"ts".as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    Scratch.withDir("graft-st4", ram = true) { out =>
      // Stream-stream join state cost is per partition PER JOIN SIDE (4x
      // stores per batch); inner-join matches emit eagerly, so the no-data
      // watermark-advance batch would only re-commit them for zero rows.
      withStreamRunConf(s) {
        val q = clicks.join(purchases,
            $"c_user" === $"p_user" &&
            $"p_ts" >= $"c_ts" &&
            $"p_ts" <= $"c_ts" + expr("INTERVAL 1 HOUR"))
          .select($"click_id", $"purchase_id")
          .writeStream
          .format("parquet")
          .option("path", s"$out/data")
          .option("checkpointLocation", s"$out/chk")
          .outputMode("append")
          .start()
        q.processAllAvailable()
        q.stop()
      }
      s.read.parquet(s"$out/data")
        .orderBy($"click_id", $"purchase_id").localCheckpoint(true)
    }
  }

  val streamClickAttributionSql: String =
    """SELECT c.event_id AS click_id, p.event_id AS purchase_id
      |FROM events c JOIN events p
      |  ON c.user_id = p.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      |ORDER BY click_id, purchase_id""".stripMargin

  /** st11: stream-stream LEFT OUTER interval join — st4 plus the unmatched
    * side (clicks that never converted within the hour). The outer
    * stream-stream join is the ONE join form whose output legitimately
    * depends on the watermark: a null-extended row may only be emitted
    * once the watermark proves no future purchase can match
    * (click horizon closed), so clicks near the end of a bounded stream
    * are withheld — that is correct streaming semantics, not data loss.
    * The oracle replays exactly that visibility rule: batch-join matches,
    * plus unmatched clicks whose `c_ts + 1h` lies strictly under the final
    * global watermark (Spark's min-policy over the two sides' ms-floored
    * max event times, minus the 2 h delay). Unlike every inner form this
    * NEEDS the no-data watermark-advance batch (skipNoData = false) — with
    * it suppressed, outer state never flushes and the unmatched rows are
    * silently absent.
    */
  def streamAttributionOuter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = eventsStream(s, d)
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id".as("c_user"), $"ts".as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id".as("p_user"), $"ts".as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    Scratch.withDir("graft-st11", ram = true) { out =>
      withStreamRunConf(s, skipNoData = false) {
        val q = clicks.join(purchases,
            $"c_user" === $"p_user" &&
            $"p_ts" >= $"c_ts" &&
            $"p_ts" <= $"c_ts" + expr("INTERVAL 1 HOUR"),
            "left_outer")
          .select($"click_id", $"purchase_id")
          .writeStream
          .format("parquet")
          .option("path", s"$out/data")
          .option("checkpointLocation", s"$out/chk")
          .outputMode("append")
          .start()
        q.processAllAvailable()
        q.stop()
      }
      s.read.parquet(s"$out/data")
        .orderBy($"click_id".asc, $"purchase_id".asc_nulls_first)
        .localCheckpoint(true)
    }
  }

  val streamAttributionOuterSql: String =
    """WITH c AS (SELECT event_id AS click_id, user_id, ts FROM events
      |           WHERE event_type = 'click'),
      |p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
      |      WHERE event_type = 'purchase'),
      |m AS (SELECT c.click_id, p.purchase_id
      |      FROM c JOIN p ON c.user_id = p.user_id
      |        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR),
      |wm AS (SELECT make_timestamp(
      |         LEAST(epoch_us((SELECT max(ts) FROM c)),
      |               epoch_us((SELECT max(ts) FROM p)))
      |           // 1000 * 1000) - INTERVAL 2 HOUR AS w),
      |unm AS (SELECT c.click_id, CAST(NULL AS BIGINT) AS purchase_id
      |        FROM c, wm
      |        WHERE NOT EXISTS (SELECT 1 FROM p
      |          WHERE p.user_id = c.user_id
      |            AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
      |          AND c.ts + INTERVAL 1 HOUR < wm.w)
      |SELECT click_id, purchase_id FROM m
      |UNION ALL
      |SELECT click_id, purchase_id FROM unm
      |ORDER BY click_id ASC, purchase_id ASC NULLS FIRST""".stripMargin

  /** The st5 session-gap (30 min), in microseconds and milliseconds. */
  private[graft] val GapUs = 30L * 60 * 1000000
  private[graft] val GapMs = 30L * 60 * 1000

  /** The custom-state core of [[streamSessions]], exposed for the spec's
    * boundary test: sessionize an arbitrary streaming Dataset of
    * [[SessEvent]]s with [[GroupStateTimeout.EventTimeTimeout]]. Sessions
    * CLOSED by a later event emit immediately; the per-user trailing
    * session emits when the event-time watermark passes its end + gap
    * (Spark fires the timeout on watermark STRICTLY GREATER than the set
    * timestamp — StreamingSpec pins that boundary); a trailing session
    * whose timeout never fires before the stream ends is deliberately NOT
    * emitted (it is still open — exactly the semantics a production
    * pipeline wants from a session feed).
    */
  private[graft] def sessionize(
      ev: org.apache.spark.sql.Dataset[SessEvent]): org.apache.spark.sql.Dataset[SessionOut] = {
    import ev.sparkSession.implicits._
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, events: Iterator[SessEvent], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator.single(SessionOut(uid, st.start_us / 1000000, st.n))
          } else {
            // Micro-batches deliver a group's rows unordered: sort by event
            // time before the gap scan (bounded per user per batch).
            val sorted = events.toArray.sortBy(_.ts_us)
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              cur match {
                case Some(c) if e.ts_us < c.last_us + GapUs =>
                  cur = Some(SessState(c.start_us, e.ts_us, c.n + 1))
                case Some(c) =>
                  closed ::= SessionOut(uid, c.start_us / 1000000, c.n)
                  cur = Some(SessState(e.ts_us, e.ts_us, 1))
                case None =>
                  cur = Some(SessState(e.ts_us, e.ts_us, 1))
              }
            }
            cur.foreach { c =>
              state.update(c)
              state.setTimeoutTimestamp(c.last_us / 1000 + GapMs)
            }
            closed.reverse.iterator
          }
      }
  }

  /** st5: streaming SESSIONIZATION with custom state — the
    * flatMapGroupsWithState form of q34's `session_window`, and the one
    * Structured Streaming state API the oracle-checked entries didn't yet
    * exercise (st1-st4 cover dedup, windowed agg, stream-static and
    * stream-stream joins). Same 30-minute half-open gap rule as q34.
    * Zero-delay watermark: after the single data micro-batch the watermark
    * advances to the max event time, firing timeouts for every session that
    * ended more than the gap before it; each user's genuinely-trailing open
    * session stays in state and is not emitted — the oracle mirrors that
    * closed-sessions-only contract (`sid < mxsid OR end+gap < watermark`
    * in exact ms integer arithmetic).
    */
  def streamSessions(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // The watermarked `ts` attribute must SURVIVE the projection feeding
    // the stateful operator (projecting it away silently drops the
    // watermark and event-time timeouts refuse to run), so SessEvent
    // carries it alongside the integer micros the session math uses.
    val ev = eventsStream(s, d)
      .withWatermark("ts", "0 seconds")
      .select($"user_id", $"ts", unix_micros($"ts").as("ts_us")).as[SessEvent]
    Scratch.withDir("graft-st5", ram = true) { out =>
      // skipNoData = false: the trailing sessions' event-time timeouts fire
      // in the (no-data) batch AFTER the watermark advances — disabling it
      // would silently drop every timeout-closed session
      withStreamRunConf(s, skipNoData = false) {
        val q = sessionize(ev)
          .writeStream
          .format("parquet")
          .option("path", s"$out/data")
          .option("checkpointLocation", s"$out/chk")
          .outputMode("append")
          .start()
        q.processAllAvailable()
        q.stop()
      }
      s.read.parquet(s"$out/data")
        .orderBy($"user_id", $"sess_start").localCheckpoint(true)
    }
  }

  /** Oracle: q34's gaps-and-islands sessionization, restricted to CLOSED
    * sessions — a later session of the same user exists, or the session's
    * end + gap is strictly before the final watermark (max event time) in
    * millisecond integer arithmetic (Spark tracks watermarks and event-time
    * timeouts in ms: micros are floor-divided, mirrored by epoch_ms).
    */
  val streamSessionsSql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts,
      |    CASE WHEN EPOCH(ts) - EPOCH(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 1800
      |           OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events),
      |numbered AS (
      |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      |  FROM flagged),
      |sess AS (
      |  SELECT user_id, sess_id,
      |    CAST(FLOOR(EPOCH(MIN(ts))) AS BIGINT) AS sess_start,
      |    epoch_ms(MAX(ts)) AS end_ms,
      |    COUNT(*) AS n_events
      |  FROM numbered
      |  GROUP BY user_id, sess_id),
      |wm AS (SELECT epoch_ms(MAX(ts)) AS wm_ms FROM events)
      |SELECT s.user_id, s.sess_start, s.n_events
      |FROM sess s CROSS JOIN wm
      |WHERE s.sess_id < (SELECT MAX(sess_id) FROM sess x
      |                   WHERE x.user_id = s.user_id)
      |   OR s.end_ms + 1800000 < wm.wm_ms
      |ORDER BY user_id, sess_start""".stripMargin

  /** st6: STREAMING incremental dedup — p4's daily-ingest gate run as the
    * ingest stream it really is: new docs (source 'src0') arrive on a file
    * stream and each is flagged against the EXISTING corpus (exact md5
    * fingerprint + shared MinHash LSH band bucket) the moment it lands.
    * The corpus side collapses to DISTINCT fingerprint / per-band
    * signature sets and BROADCASTS, so every decision is a stateless
    * per-micro-batch broadcast join: no watermark, no streaming
    * aggregation state, nothing grows with the stream — which is exactly
    * the 100 TB shape (the corpus sets are the persisted dedup index the
    * ingest job maintains). The band match is expressed as four COLUMN
    * joins (one per band, distinct static side) rather than an
    * explode+distinct, keeping append mode legal and each stream row a
    * single row end-to-end. Per-doc flags depend only on the static
    * corpus, so the result is deterministic under any micro-batch split —
    * the oracle is p4's batch SQL verbatim.
    */
  def streamIncrementalDedup(s: SparkSession, d: String): DataFrame =
    // The corpus sets come from the PERSISTED dedup index ([[DedupIndex]] —
    // built once per corpus at ingest, CommitMarker-published): the static
    // side of a stream-static join re-executes per micro-batch, and a
    // production ingest stream reads its corpus index, it does not
    // recompute corpus MinHash inside every batch.
    ingestDedupAgainst(s, d,
      DedupIndex.fingerprints(s, d), DedupIndex.bands(s, d), "graft-st6")

  /** st10: st6 re-run against the APPENDABLE index — the corpus arrived as
    * a base batch plus a later CommitMarker-published append
    * ([[DedupIndex.locateGenerations]]), and the stream reads the union of
    * the committed generations. The oracle is p4's batch SQL over the FULL
    * corpus — the equivalence this entry pins is exactly "append then
    * stream == batch recompute" (base + append = corpus by construction).
    */
  def streamPostAppendDedup(s: SparkSession, d: String): DataFrame =
    ingestDedupAgainst(s, d,
      DedupIndex.fingerprintsAll(s, d), DedupIndex.bandsAll(s, d), "graft-st10")

  /** The shared st6/st10 body: flag each streamed `src0` doc against the
    * given corpus fingerprint/band relations (whatever index generations
    * they came from) via broadcast per-band left joins — stateless,
    * append-legal, nothing grows with the stream.
    */
  private def ingestDedupAgainst(
      s: SparkSession, d: String,
      fpRel: DataFrame, bandsRel: DataFrame, tag: String): DataFrame = {
    import s.implicits._
    val docs = graft.Tables.documents(s, d)
    val corpFp = fpRel.withColumn("e", lit(true))
    val bandSets = (0 to 3).map { b =>
      bandsRel.filter($"band" === b).select($"sig".as(s"csig$b"))
        .withColumn(s"m$b", lit(true))
    }
    val stream = s.readStream.schema(docs.schema)
      .parquet(fixtureStreamDir(d, "documents"))
      .filter($"source" === "src0")
      .withColumn("fp", md5($"text"))
      .withColumn("w", split(lower($"text"), " "))
      .withColumn("mh", when(size($"w") >= 3,
        graft.functions.MinHashWords.minhashWords($"w", 3, 8)))
    val withSigs = (0 to 3).foldLeft(stream) { (df, b) =>
      df.withColumn(s"sig$b",
        concat(element_at($"mh", 2 * b + 1), element_at($"mh", 2 * b + 2)))
    }
    val flagged = bandSets.zipWithIndex.foldLeft(
      withSigs.join(broadcast(corpFp), $"fp" === $"c_fp", "left")) {
      case (df, (bs, b)) =>
        df.join(broadcast(bs), col(s"sig$b") === col(s"csig$b"), "left")
    }
    Scratch.withDir(tag, ram = true) { out =>
      withStreamRunConf(s) {
        val q = flagged
          .select($"doc_id",
            coalesce($"e", lit(false)).as("exact_dup"),
            coalesce($"m0" || $"m1" || $"m2" || $"m3", lit(false)).as("near_dup"))
          .withColumn("keep", !$"exact_dup" && !$"near_dup")
          .writeStream
          .format("parquet")
          .option("path", s"$out/data")
          .option("checkpointLocation", s"$out/chk")
          .outputMode("append")
          .start()
        q.processAllAvailable()
        q.stop()
      }
      s.read.parquet(s"$out/data")
        .orderBy($"doc_id").localCheckpoint(true)
    }
  }

  /** st7: STREAMING semantic matching — new embeddings (the `vec_id % 5 ==
    * 3` ingest split, same as the s11 delta) arrive on a file stream and
    * are matched against the static corpus the way d7 does it at rest:
    * 256-bit BitSketch split into 32 8-bit bands, candidates = band
    * collisions, exact FloatDot >= 0.45 verifies. The corpus side is the
    * per-band signature relation (bucket-capped like d7, so one
    * boilerplate bucket can't multiply stream rows) and BROADCASTS; the
    * stream side is a narrow sketch + band explode — stateless
    * per-micro-batch equi-join, append-legal, nothing grows with the
    * stream. Emits one row per MATCHING BAND (q_id, m_id, band, cos) —
    * per-band provenance instead of a distinct that would need
    * aggregation state; the oracle replays the same bands at rest.
    */
  /** 8-bit band split of a BitSketch column `sk` (see
    * [[graft.operators.Dedup.sketchBandPairs]] for the at-rest twin).
    */
  private def bandCols(s: SparkSession) = {
    import s.implicits._
    val planes = graft.operators.Dedup.SketchPlanes
    val mask = (1L << 8) - 1
    (0 until planes / 8).map { b =>
      struct(lit(b).as("band"),
        shiftright(element_at($"sk", b * 8 / 64 + 1), (b * 8) % 64)
          .bitwiseAND(lit(mask)).as("sig"))
    }
  }

  /** The st7 corpus side: per-band sketch signatures of `emb` rows, with
    * oversized buckets dropped (> [[graft.operators.Dedup.LshBucketCap]]).
    * The cap is the stream-safety property: a viral embedding shared by
    * millions of corpus rows would otherwise multiply EVERY colliding
    * stream row by the bucket size at join time. Factored out so
    * StreamingSpec can prove the bound on a synthetic hot bucket.
    */
  private[graft] def cappedCorpusBands(
      emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val corpBands = emb
      .select($"vec_id".as("m_id"), $"embedding".as("m_emb"),
        graft.functions.BitSketch.sketch(
          $"embedding", graft.operators.Dedup.SketchPlanes).as("sk"))
      .select($"m_id", $"m_emb", explode(array(bandCols(s): _*)).as("bs"))
      .select($"m_id", $"m_emb", $"bs.band".as("band"), $"bs.sig".as("sig"))
    corpBands.join(
      corpBands.groupBy($"band", $"sig").agg(count(lit(1)).as("bn"))
        .filter($"bn" <= graft.operators.Dedup.LshBucketCap)
        .select($"band", $"sig"),
      Seq("band", "sig"), "left_semi")
  }

  def streamAnnMatch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = graft.Tables.embeddings(s, d)
    // persisted index, not per-batch corpus recompute — see DedupIndex
    val capped = DedupIndex.embBands(s, d)
    val stream = s.readStream.schema(emb.schema)
      .parquet(fixtureStreamDir(d, "embeddings"))
      .filter($"vec_id" % 5 === 3)
      .withColumn("sk", graft.functions.BitSketch.sketch(
        $"embedding", graft.operators.Dedup.SketchPlanes))
      .select($"vec_id".as("q_id"), $"embedding",
        explode(array(bandCols(s): _*)).as("bs"))
      .select($"q_id", $"embedding", $"bs.band".as("band"), $"bs.sig".as("sig"))
    Scratch.withDir("graft-st7", ram = true) { out =>
      withStreamRunConf(s) {
        val q = stream.join(broadcast(capped), Seq("band", "sig"))
          .select($"q_id", $"m_id", $"band",
            graft.functions.VectorFunctions.dot($"embedding", $"m_emb").as("cos"))
          .filter($"cos" >= 0.45)
          .writeStream
          .format("parquet")
          .option("path", s"$out/data")
          .option("checkpointLocation", s"$out/chk")
          .outputMode("append")
          .start()
        q.processAllAvailable()
        q.stop()
      }
      s.read.parquet(s"$out/data")
        .orderBy($"q_id", $"m_id", $"band").localCheckpoint(true)
    }
  }

  /** Oracle: d7's band derivation at rest, restricted to stream×corpus
    * (q = vec_id % 5 = 3 side), bucket cap on the corpus side only, one
    * row per matching band.
    */
  val streamAnnMatchSql: String =
    """WITH __SIGS__,
      |bands AS (
      |  SELECT s.vec_id, t.b, substr(s.sig, t.b * 8 + 1, 8) AS bsig
      |  FROM sigs s CROSS JOIN generate_series(0, 31) t(b)),
      |corp AS (SELECT * FROM bands WHERE vec_id % 5 <> 3),
      |strm AS (SELECT * FROM bands WHERE vec_id % 5 = 3),
      |ok AS (SELECT b, bsig FROM corp GROUP BY b, bsig HAVING COUNT(*) <= 100)
      |SELECT q.vec_id AS q_id, c.vec_id AS m_id, CAST(q.b AS INTEGER) AS band,
      |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |    list_transform(range(1, len(a.embedding) + 1),
      |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b2.embedding[i] AS DOUBLE))),
      |    (acc, x) -> acc + x) AS cos
      |FROM strm q
      |JOIN corp c ON c.b = q.b AND c.bsig = q.bsig
      |JOIN ok ON ok.b = q.b AND ok.bsig = q.bsig
      |JOIN embeddings a ON a.vec_id = q.vec_id
      |JOIN embeddings b2 ON b2.vec_id = c.vec_id
      |WHERE list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |    list_transform(range(1, len(a.embedding) + 1),
      |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b2.embedding[i] AS DOUBLE))),
      |    (acc, x) -> acc + x) >= 0.45
      |ORDER BY q_id, m_id, band""".stripMargin
      .replace("__SIGS__", graft.operators.Dedup.sketchSigsCte)

  /** st8: streaming CDC MATERIALIZATION — the KV-on-streams bridge: treat
    * the event stream as a changelog and maintain the latest-per-key view
    * (the compacted table a CDC consumer reads), as a complete-mode
    * streaming aggregation whose state is one struct per key. The "latest"
    * winner is max(struct(ts_us, event_id, type)) — a SELECTION over a
    * unique total order (event_id is unique), so the view is deterministic
    * under any micro-batch split and equals the batch answer by complete-
    * mode semantics. Timestamps compare in TRUNCATED microseconds on both
    * engines (the ns fixture read through the us contract), with event_id
    * breaking any sub-microsecond ties identically.
    */
  def streamLatest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val table = "st8_" + java.util.UUID.randomUUID().toString.replace("-", "")
    Scratch.withDir("graft-st8", ram = true) { chk =>
      withStreamRunConf(s) {
        val q = eventsStream(s, d)
          .select($"user_id",
            struct(unix_micros($"ts").as("ts_us"), $"event_id", $"event_type")
              .as("rec"))
          .groupBy($"user_id")
          .agg(max($"rec").as("m"))
          .select($"user_id", $"m.ts_us".as("last_ts_us"),
            $"m.event_id".as("last_event_id"), $"m.event_type".as("last_type"))
          .writeStream.format("memory").queryName(table)
          .option("checkpointLocation", s"$chk/chk")
          .outputMode("complete")
          .start()
        q.processAllAvailable()
        q.stop()
      }
    }
    val result = s.table(table)
      .orderBy($"user_id").localCheckpoint(true)
    s.catalog.dropTempView(table)
    result
  }

  val streamLatestSql: String =
    """WITH ranked AS (
      |  SELECT user_id,
      |    CAST(epoch_us(ts) AS BIGINT) AS last_ts_us,
      |    event_id AS last_event_id, event_type AS last_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY CAST(epoch_us(ts) AS BIGINT) DESC, event_id DESC,
      |               event_type DESC) AS rn
      |  FROM events)
      |SELECT user_id, last_ts_us, last_event_id, last_type
      |FROM ranked WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  /** st9: TRANSACTIONAL streaming ingest — the round-9 foreachBatch-commit
    * spec promoted to the hash gate. A bounded file stream delivers the
    * events fixture in three deterministic waves (`event_id % 3`, staged
    * one file per wave with wave-ordered mtimes; `maxFilesPerTrigger=1`
    * makes each wave exactly one micro-batch), and every micro-batch
    * upserts its per-user stats into a real [[graft.kv.PotTable]] — one
    * CAS-committed generation per batch, so a reader at any moment sees a
    * complete committed version, never a torn batch. The query is then
    * kv8's time-travel surface on the STREAM-BUILT store: generation 1
    * (the first wave) joined against the current LWW state. The oracle
    * replays the wave split relationally without seeing the store — what
    * the hash checks is that streaming commits are exactly as addressable
    * and immutable as batch ones.
    */
  /** Wave staging for st9, once per fixture dir (fixtureStreamDir's
    * pattern): the wave files are a pure function of the immutable
    * fixture, so repeated runs re-stream them without re-writing them.
    */
  private def waveStageDir(s: SparkSession, d: String): String =
    streamDirs.getOrElseUpdate(s"$d#st9waves", {
      val stage = java.nio.file.Files
        .createTempDirectory("graft-st9-src").toString
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      import s.implicits._
      val ev = graft.Tables.load(s, d, "events").select($"event_id", $"user_id")
      (0 to 2).foreach { k =>
        val wdir = s"$stage/w$k"
        ev.filter($"event_id" % 3 === k).coalesce(1).write.parquet(wdir)
        val part = new java.io.File(wdir).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val f = new java.io.File(s"$stage/wave$k.parquet")
        java.nio.file.Files.move(part.toPath, f.toPath)
        f.setLastModified(10000L * (k + 1)) // wave order = source file order
        new scala.reflect.io.Directory(new java.io.File(wdir)).deleteRecursively()
      }
      stage
    })

  /** st12: streaming ADDITIVE aggregation into a pot — the running-counter
    * shape st9's LWW upsert cannot express (st9's `n` is the LAST batch's
    * count; here `n` accumulates across every batch). Each micro-batch
    * union+re-sums its delta into the pot map through the normal CAS
    * (one generation per batch), and a BATCH-ID FENCE in a sibling meta
    * pot makes the apply idempotent: foreachBatch replays (checkpoint
    * recovery re-delivers the last batch) hit `id <= applied` and
    * short-circuit — without the fence an additive merge double-counts,
    * which is exactly why exactly-once counters need more than LWW. The
    * query PROVES the fence by replaying the final wave after the stream
    * drains: the emitted counts still hash-match the batch oracle.
    */
  def streamAdditiveCounts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val stage = waveStageDir(s, d)
    Scratch.withDir("graft-st12-pot") { potRoot =>
      val pot = graft.kv.PotTable(s, potRoot, "counts")
      val meta = graft.kv.PotTable(s, potRoot, "counts_meta")
      def appliedUpTo(): Long =
        if (meta.generation == 0L) -1L
        else meta.get().select(max($"batch_id")).as[Long].collect().head
      def applyBatch(batch: DataFrame, id: Long): Unit = {
        if (id <= appliedUpTo()) return // replay fence (idempotent apply)
        val delta = batch.groupBy($"user_id".cast("string").as("key"))
          .agg(count(lit(1)).as("n"))
        if (delta.isEmpty) return
        val merged =
          if (pot.generation == 0L) delta
          else pot.get().select($"key", $"n").unionByName(delta)
            .groupBy($"key").agg(sum($"n").as("n"))
        // r20 opt: `merged` IS the complete next state (old ∪ delta summed),
        // so upsert's read-old + window-LWW pass is the identity on it —
        // replace commits the same rows at the same generation without the
        // second read/merge (KvSpec pins replace ≡ upsert for full batches)
        pot.replace(merged)
        meta.upsert(Seq(("applied", id)).toDF("key", "batch_id"))
        ()
      }
      Scratch.withDir("graft-st12", ram = true) { chk =>
        withStreamRunConf(s) {
          val q = s.readStream
            .schema("event_id BIGINT, user_id BIGINT")
            .option("maxFilesPerTrigger", "1")
            .parquet(stage)
            .writeStream
            .option("checkpointLocation", s"$chk/chk")
            .foreachBatch(applyBatch _)
            .start()
          q.processAllAvailable()
          q.stop()
        }
      }
      // simulate a checkpoint-recovery redelivery of the final wave: the
      // fence must swallow it or every wave-2 user double-counts
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      applyBatch(
        s.read.schema("event_id BIGINT, user_id BIGINT")
          .parquet(s"$stage/wave2.parquet"), appliedUpTo())
      pot.get()
        .select($"key".cast("bigint").as("user_id"), $"n",
          lit(pot.generation).as("n_generations"))
        .orderBy($"user_id")
        .localCheckpoint(true)
    }
  }

  /** Oracle: total per-user counts (what additive merge must land on —
    * any double-count breaks the hash) with the 3-wave generation count
    * literal (one CAS generation per wave, the fence swallowing the
    * replayed fourth apply).
    */
  val streamAdditiveCountsSql: String =
    """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(3 AS BIGINT) AS n_generations
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  def streamPotIngest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val stage = waveStageDir(s, d)
    Scratch.withDir("graft-st9-pot") { potRoot =>
      val pot = graft.kv.PotTable(s, potRoot, "ingest")
      Scratch.withDir("graft-st9", ram = true) { chk =>
        withStreamRunConf(s) {
          val q = s.readStream
            .schema("event_id BIGINT, user_id BIGINT")
            .option("maxFilesPerTrigger", "1")
            .parquet(stage)
            .writeStream
            .option("checkpointLocation", s"$chk/chk")
            .foreachBatch { (batch: DataFrame, _: Long) =>
              val stats = batch
                .groupBy($"user_id".cast("string").as("key"))
                .agg(count(lit(1)).as("n"), max($"event_id").as("last_id"))
              // Guard against no-data batches: an empty upsert would burn a
              // generation and shift the time-travel handle.
              if (!stats.isEmpty) { pot.upsert(stats); () }
            }
            .start()
          q.processAllAvailable()
          q.stop()
        }
      }
      val g1 = pot.getAt(1L)
        .select($"key", $"n".as("n_g1"), $"last_id".as("last_g1"))
      val cur = pot.get()
        .select($"key", $"n".as("n_cur"), $"last_id".as("last_cur"))
      g1.join(cur, Seq("key"))
        .select($"key".cast("bigint").as("key"),
          $"n_g1", $"last_g1", $"n_cur", $"last_cur")
        .orderBy($"key")
        .localCheckpoint(true)
    }
  }

  /** Oracle replay: wave stats per (user, residue); current = the user's
    * highest-residue wave (LWW over in-order upserts); generation 1 = the
    * lowest non-empty wave (mirrors the empty-batch guard above).
    */
  val streamPotIngestSql: String =
    """WITH stats AS (
      |  SELECT user_id, event_id % 3 AS wv,
      |    COUNT(*) AS n, MAX(event_id) AS last_id
      |  FROM events GROUP BY 1, 2),
      |cur AS (
      |  SELECT user_id, n, last_id FROM (
      |    SELECT user_id, n, last_id,
      |      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY wv DESC) AS rn
      |    FROM stats) t
      |  WHERE rn = 1),
      |g1 AS (
      |  SELECT user_id, n, last_id FROM stats
      |  WHERE wv = (SELECT MIN(wv) FROM stats))
      |SELECT g1.user_id AS key, g1.n AS n_g1, g1.last_id AS last_g1,
      |  cur.n AS n_cur, cur.last_id AS last_cur
      |FROM g1 JOIN cur ON g1.user_id = cur.user_id
      |ORDER BY key""".stripMargin

  /** st13: CHAINED stateful window aggregations in one streaming query —
    * the multi-stage rollup (fine window → coarse window) that pre-Spark-
    * 3.4 pipelines had to split across two jobs with an intermediate
    * topic/table. The 15-minute layer feeds the hourly layer through
    * `window_time()` (the event-time column of a window aggregate), both
    * layers governed by one watermark; append mode, so an hour emits only
    * once the watermark proves it complete — the oracle mirrors that
    * EXACTLY by keeping hours whose end ≤ max event time (0 s delay ⇒
    * final watermark = max ts).
    *
    * Per-hour `n_subwindows` (non-empty 15-min windows) is the signal the
    * chain is real: a single-layer hourly agg cannot produce it without a
    * second pass. Scale: layer 1's state is 15-min × type groups, layer
    * 2's is hourly × type — both watermark-bounded; the rollup adds no
    * per-event state anywhere.
    */
  def streamRollup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val table = "st13_" + java.util.UUID.randomUUID().toString.replace("-", "")
    Scratch.withDir("graft-st13", ram = true) { chk =>
      // skipNoData = false: both layers emit in the no-data batch after the
      // watermark jumps to the max event time (st5's timeout discipline).
      withStreamRunConf(s, skipNoData = false) {
        val sub = eventsStream(s, d)
          .withWatermark("ts", "0 seconds")
          .groupBy(window($"ts", "15 minutes").as("w15"), $"event_type")
          .agg(count(lit(1)).as("n15"))
        val q = sub
          .groupBy(window(window_time($"w15"), "1 hour").as("wh"), $"event_type")
          .agg(sum($"n15").as("n_events"), count(lit(1)).as("n_subwindows"))
          .select(unix_timestamp($"wh.start").as("hour_s"), $"event_type",
            $"n_events", $"n_subwindows")
          .writeStream.format("memory").queryName(table)
          .option("checkpointLocation", s"$chk/chk")
          .outputMode("append")
          .start()
        q.processAllAvailable()
        q.stop()
      }
    }
    val result = s.table(table)
      .orderBy($"hour_s", $"event_type").localCheckpoint(true)
    s.catalog.dropTempView(table)
    result
  }

  val streamRollupSql: String =
    """WITH mx AS (
      |  SELECT CAST(FLOOR(EPOCH(MAX(ts))) AS BIGINT) AS m FROM events),
      |sub AS (
      |  SELECT (CAST(FLOOR(EPOCH(ts) / 900) AS BIGINT) * 900) AS w15,
      |    event_type, COUNT(*) AS n15
      |  FROM events GROUP BY 1, 2),
      |hr AS (
      |  SELECT (w15 // 3600) * 3600 AS hour_s, event_type,
      |    CAST(SUM(n15) AS BIGINT) AS n_events, COUNT(*) AS n_subwindows
      |  FROM sub GROUP BY 1, 2)
      |SELECT hour_s, event_type, n_events, n_subwindows
      |FROM hr, mx
      |WHERE hour_s + 3600 <= mx.m
      |ORDER BY hour_s, event_type""".stripMargin

  /** st14: STREAMING VECTOR INGEST into the persisted ANN index — the
    * arrival path of a production vector store: each micro-batch of new
    * embeddings is signed, `sigp`-partitioned and published as the next
    * CommitMarker generation through [[graft.operators.AnnIndex.append]]
    * (stage-once, CAS-at-next-gen — a lost race re-offers the batch, so a
    * concurrent appender can never drop vectors; the batchId tags the
    * generation, so a checkpoint-recovery REPLAY of a committed batch
    * adopts it instead of appending duplicates — exactly-once per
    * micro-batch), `_idmap` sidecar included so takedown deletes keep
    * working on stream-written generations. After the stream drains, the s3 multiprobe lookup over
    * the UNION of committed generations must equal the one-shot batch
    * build's answer — the oracle is s3's SQL verbatim, which is the point:
    * HOW the corpus arrived (one build, N micro-batches, any batch split)
    * must be invisible to the query. `maxFilesPerTrigger` is left unset —
    * the invariant holds for whatever batching the source picks.
    *
    * Scale: per batch, one narrow map + one sigp-keyed exchange sized to
    * the BATCH (not the corpus); the lookup lists only the probed buckets
    * of each generation. Generation count is bounded by compaction
    * ([[graft.operators.AnnIndex.compact]]) exactly as for batch appends.
    */
  def streamAnnIngest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = graft.Tables.embeddings(s, d)
    Scratch.withDir("graft-st14", ram = true) { root =>
      val base = new org.apache.hadoop.fs.Path(s"$root/idx")
      withStreamRunConf(s) {
        val q = s.readStream.schema(emb.schema)
          .parquet(fixtureStreamDir(d, "embeddings"))
          .writeStream
          .option("checkpointLocation", s"$root/chk")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            if (!batch.isEmpty)
              // scope = hash of the checkpoint root: stable across restarts
              // of THIS query (replay still adopts), distinct for any other
              // query appending to the same index base
              graft.operators.Similarity
                .appendEmbeddingBatch(s, base, batch, batchId,
                  scope = "q" + org.apache.commons.codec.digest.DigestUtils
                    .md5Hex(s"$root/chk").take(8))
          }
          .start()
        q.processAllAvailable()
        q.stop()
      }
      graft.operators.Similarity
        .annLookupOverGenerations(s, d, base).localCheckpoint(true)
    }
  }

  /** st15: STREAMING QUALITY ROUTER with a dead-letter queue — the ingest
    * front door every production corpus pipeline has: each micro-batch of
    * documents is gated (p1's rules, first-failing-reason order: too_short
    * → too_long → no_letters) and routed to an `accepted` pot or a
    * `rejected` DLQ pot carrying the reason — and the TWO pot writes
    * commit ATOMICALLY through kv12's [[graft.kv.PotTxn]] WAL (a crash
    * between sinks can never leave a batch half-routed; recovery rolls the
    * txn forward — the property a replayed micro-batch needs to stay
    * exactly-once across BOTH sinks). The emitted summary is per
    * (route, reason) counts read back from the pots, batch-split
    * independent; the oracle replays the gates relationally.
    *
    * Scale: the gate is stateless map work; each txn stages both legs and
    * CAS-commits once per micro-batch — the same one-generation-per-wave
    * cost st9 pays for one sink.
    */
  def streamDlqRouter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = graft.Tables.documents(s, d)
    Scratch.withDir("graft-st15", ram = true) { root =>
      val txn = new graft.kv.PotTxn(s, s"$root/wh")
      withStreamRunConf(s) {
        val q = s.readStream.schema(docs.schema)
          .parquet(fixtureStreamDir(d, "documents"))
          .withColumn("n_words", size(split($"text", " ")))
          .withColumn("reason",
            when($"n_words" < 30, "too_short")
              .when($"n_words" > 4000, "too_long")
              .when(!$"text".rlike("[A-Za-z]"), "no_letters"))
          .writeStream
          .option("checkpointLocation", s"$root/chk")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            if (!batch.isEmpty) {
              val acc = batch.filter(col("reason").isNull)
                .select(col("doc_id").cast("string").as("key"),
                  col("lang"), col("n_words"))
              val rej = batch.filter(col("reason").isNotNull)
                .select(col("doc_id").cast("string").as("key"), col("reason"))
              txn.commitAll(Seq("accepted" -> acc, "rejected" -> rej))
              ()
            }
          }
          .start()
        q.processAllAvailable()
        q.stop()
      }
      val acc = graft.kv.PotTable(s, s"$root/wh", "accepted").get()
        .agg(count(lit(1)).as("n"))
        .select(lit("accepted").as("route"), lit("-").as("reason"), $"n")
      val rej = graft.kv.PotTable(s, s"$root/wh", "rejected").get()
        .groupBy($"reason").agg(count(lit(1)).as("n"))
        .select(lit("rejected").as("route"), $"reason", $"n")
      acc.unionByName(rej)
        .orderBy($"route", $"reason").localCheckpoint(true)
    }
  }

  val streamDlqRouterSql: String =
    """WITH g AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nw, text
      |  FROM documents),
      |r AS (
      |  SELECT CASE WHEN nw < 30 THEN 'too_short'
      |              WHEN nw > 4000 THEN 'too_long'
      |              WHEN NOT regexp_matches(text, '[A-Za-z]') THEN 'no_letters'
      |              ELSE '-' END AS reason
      |  FROM g)
      |SELECT CASE WHEN reason = '-' THEN 'accepted' ELSE 'rejected' END
      |    AS route,
      |  reason, COUNT(*) AS n
      |FROM r
      |GROUP BY 1, 2
      |ORDER BY route, reason""".stripMargin

  /** st16: STREAMING SINK through the DSv2 connector — `writeStream
    * .format(PotV2Source)`, no foreachBatch anywhere: the analyzer
    * resolves the sink to [[graft.sources.PotV2StreamingWrite]], and
    * each micro-batch epoch commits ONE chain generation through u14's
    * merge-snapshot-CAS core with the epoch id tagging the snapshot —
    * a checkpoint-replayed epoch ADOPTS its committed generation, so
    * the sink is exactly-once per epoch at the connector level (st9
    * hand-rolls this shape with foreachBatch + PotTable; this is the
    * declarative form every Spark user writes first). The stream routes
    * a bounded slice of events (event_id % 97 = 0) as (key, doc); the
    * emitted summary aggregates the pot's parsed docs per event_type —
    * batch-split independent (LWW by unique key), oracle replays the
    * slice relationally. Doubles round-trip exactly through to_json/
    * get_json_object (shortest-representation JSON rendering), and only
    * order-free min/max touch them.
    */
  def streamPotSink(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-st16", ram = true) { root =>
      val pot = s"$root/pot/t/data.json"
      withStreamRunConf(s) {
        val q = eventsStream(s, d)
          .filter(col("event_id") % 97 === 0)
          .select(lit("").as("pot_file"),
            concat(lit("e"), col("event_id").cast("string")).as("key"),
            to_json(struct(col("event_type").as("et"),
              col("value").as("v"))).as("doc_json"))
          .writeStream
          .format(classOf[graft.sources.PotV2Source].getName)
          .option("path", pot)
          .option("checkpointLocation", s"$root/chk")
          .outputMode("append")
          .start()
        q.processAllAvailable()
        q.stop()
      }
      s.read
        .format(classOf[graft.sources.PotV2Source].getName)
        .option("path", pot).load()
        .select(get_json_object($"doc_json", "$.et").as("event_type"),
          get_json_object($"doc_json", "$.v").cast("double").as("v"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), min($"v").as("vmin"), max($"v").as("vmax"))
        .orderBy($"event_type")
        .localCheckpoint(true)
    }
  }

  val streamPotSinkSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  MIN(value) AS vmin, MAX(value) AS vmax
      |FROM events
      |WHERE event_id % 97 = 0
      |GROUP BY 1
      |ORDER BY event_type""".stripMargin

  /** st17: the pot as a STREAMING SOURCE — `readStream.format(PotV2Source)`
    * (MICRO_BATCH_READ): offsets are write-chain generation numbers and
    * each generation's batch rows are its LWW upsert DELTA versus the
    * previous snapshot — the pot CHANGE FEED, kv7's diff rules made
    * incremental (st7 streams CDC INTO a pot; this streams it OUT),
    * closing the connector's fourth quadrant (batch read/write, streaming
    * write, now streaming read). Three LWW generations are written
    * through the batch writer; the feed drains through a parquet sink and
    * the emitted change log — (key, version) for every upsert any
    * generation introduced — is replayed relationally by the oracle.
    * Batch boundaries are a pure function of the chain (offsets from
    * CommitMarker state), so HOW the trigger schedule grouped generations
    * cannot change the rows.
    */
  def streamPotSource(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-st17", ram = true) { root =>
      val pot = s"$root/pot/t/data.json"
      val fmt = classOf[graft.sources.PotV2Source].getName
      def docs(df: DataFrame, v: Int) = df.select(
        lit("").as("pot_file"),
        concat(lit("n"), col("n_nationkey").cast("string")).as("key"),
        to_json(struct(col("n_name").as("name"), lit(v).as("v")))
          .as("doc_json"))
      val nat = graft.Tables.nation(s, d)
      docs(nat.filter($"n_regionkey" <= 1), 0)
        .write.format(fmt).option("path", pot).mode("overwrite").save()
      docs(nat.filter($"n_regionkey" === 0), 1)
        .write.format(fmt).option("path", pot).mode("append").save()
      docs(nat.filter($"n_regionkey" === 1), 2)
        .write.format(fmt).option("path", pot).mode("append").save()
      val feed = s"$root/feed"
      withStreamRunConf(s) {
        val q = s.readStream.format(fmt).option("path", pot).load()
          .writeStream.format("parquet")
          .option("path", feed)
          .option("checkpointLocation", s"$root/chk")
          .start()
        q.processAllAvailable()
        q.stop()
      }
      s.read.parquet(feed)
        .select($"key",
          get_json_object($"doc_json", "$.v").cast("int").as("v"))
        .orderBy($"key", $"v")
        .localCheckpoint(true)
    }
  }

  val streamPotSourceSql: String =
    """WITH base AS (
      |  SELECT 'n' || CAST(n_nationkey AS VARCHAR) AS key, n_regionkey
      |  FROM nation WHERE n_regionkey <= 1)
      |SELECT key, v FROM (
      |  SELECT key, CAST(0 AS INTEGER) AS v FROM base
      |  UNION ALL
      |  SELECT key, CAST(1 AS INTEGER) FROM base WHERE n_regionkey = 0
      |  UNION ALL
      |  SELECT key, CAST(2 AS INTEGER) FROM base WHERE n_regionkey = 1) t
      |ORDER BY key, v""".stripMargin

  /** st27: RATE-LIMITED backlog replay (r17) — DSv2 admission control
    * (`SupportsAdmissionControl`) on the pot change feed:
    * `.option("maxGenerationsPerTrigger", 1)` bounds every micro-batch
    * to one generation of backlog, so a reader starting against a deep
    * chain drains it in bounded, checkpointable steps instead of one
    * giant batch (Kafka's maxOffsetsPerTrigger for the chain — the
    * backfill-OOM guard). st17's exact 3-generation pot replayed under
    * the limit: the emitted ROWS are identical to the unlimited feed
    * (a generation never splits, boundaries stay deterministic) and
    * the DATA-BATCH COUNT — emitted as the `_batches` row — is exactly
    * the backlog depth, both oracle-checked.
    */
  def streamRateLimitedFeed(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-st27", ram = true) { root =>
      val pot = s"$root/pot/t/data.json"
      val fmt = classOf[graft.sources.PotV2Source].getName
      def docs(df: DataFrame, v: Int) = df.select(
        lit("").as("pot_file"),
        concat(lit("n"), col("n_nationkey").cast("string")).as("key"),
        to_json(struct(col("n_name").as("name"), lit(v).as("v")))
          .as("doc_json"))
      val nat = graft.Tables.nation(s, d)
      docs(nat.filter($"n_regionkey" <= 1), 0)
        .write.format(fmt).option("path", pot).mode("overwrite").save()
      docs(nat.filter($"n_regionkey" === 0), 1)
        .write.format(fmt).option("path", pot).mode("append").save()
      docs(nat.filter($"n_regionkey" === 1), 2)
        .write.format(fmt).option("path", pot).mode("append").save()
      val feed = s"$root/feed"
      var dataBatches = 0
      withStreamRunConf(s) {
        val q = s.readStream.format(fmt).option("path", pot)
          .option("maxGenerationsPerTrigger", "1").load()
          .writeStream.format("parquet")
          .option("path", feed)
          .option("checkpointLocation", s"$root/chk")
          .start()
        q.processAllAvailable()
        dataBatches = q.recentProgress.count(_.numInputRows > 0)
        q.stop()
      }
      val rows = s.read.parquet(feed)
        .select($"key",
          get_json_object($"doc_json", "$.v").cast("int").as("v"))
      rows
        .unionByName(Seq(("_batches", dataBatches)).toDF("key", "v"))
        .orderBy($"key", $"v")
        .localCheckpoint(true)
    }
  }

  val streamRateLimitedFeedSql: String =
    """WITH base AS (
      |  SELECT 'n' || CAST(n_nationkey AS VARCHAR) AS key, n_regionkey
      |  FROM nation WHERE n_regionkey <= 1)
      |SELECT key, v FROM (
      |  SELECT key, CAST(0 AS INTEGER) AS v FROM base
      |  UNION ALL
      |  SELECT key, CAST(1 AS INTEGER) FROM base WHERE n_regionkey = 0
      |  UNION ALL
      |  SELECT key, CAST(2 AS INTEGER) FROM base WHERE n_regionkey = 1
      |  UNION ALL
      |  SELECT '_batches', CAST(3 AS INTEGER)) t
      |ORDER BY key, v""".stripMargin

  /** st28: POT-GRAIN admission control on the MULTI-POT feed (r18 —
    * the file source's maxFilesPerTrigger for the bucket feed):
    * `.option("maxPotsPerTrigger", 1)` advances at most one pot per
    * micro-batch (sorted path order, each drained to its head), so a
    * 10k-pot bucket restarting against deep backlogs replays in
    * bounded, checkpointable steps instead of one giant batch —
    * st27's knob one level up (that one rates a single chain's
    * generations; this one rates the fleet of chains). Three pots with
    * interleaved backlogs replayed under the limit: the emitted ROWS
    * are identical to the unlimited feed (pot boundaries never split,
    * non-advancing pots keep their carried coordinates — exactly-once
    * untouched) and the data-batch count == the number of backlogged
    * pots, both oracle-checked.
    */
  def streamPotRateLimitedFeed(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-st28", ram = true) { root =>
      val fmt = classOf[graft.sources.PotV2Source].getName
      def docs(df: DataFrame, v: Int) = df.select(
        lit("").as("pot_file"),
        concat(lit("n"), col("n_nationkey").cast("string")).as("key"),
        to_json(struct(col("n_name").as("name"), lit(v).as("v")))
          .as("doc_json"))
      val nat = graft.Tables.nation(s, d)
      def pot(sub: String) = s"$root/pots/$sub/data.json"
      // pot a: 2-generation backlog; pots b, c: 1 each — 3 backlogged pots
      docs(nat.filter($"n_regionkey" === 0), 0)
        .write.format(fmt).option("path", pot("a")).mode("overwrite").save()
      docs(nat.filter($"n_regionkey" === 0), 1)
        .write.format(fmt).option("path", pot("a")).mode("append").save()
      docs(nat.filter($"n_regionkey" === 1), 2)
        .write.format(fmt).option("path", pot("b")).mode("overwrite").save()
      docs(nat.filter($"n_regionkey" === 2), 3)
        .write.format(fmt).option("path", pot("c")).mode("overwrite").save()
      val feed = s"$root/feed"
      var dataBatches = 0
      withStreamRunConf(s) {
        val q = s.readStream.format(fmt)
          .option("path", s"$root/pots/*/data.json")
          .option("maxPotsPerTrigger", "1").load()
          .writeStream.format("parquet")
          .option("path", feed)
          .option("checkpointLocation", s"$root/chk")
          .start()
        q.processAllAvailable()
        dataBatches = q.recentProgress.count(_.numInputRows > 0)
        q.stop()
      }
      val rows = s.read.parquet(feed)
        .select(regexp_extract($"pot_file", "pots/([^/]+)/", 1).as("pot"),
          $"key", get_json_object($"doc_json", "$.v").cast("int").as("v"))
      rows
        .unionByName(Seq(("_batches", "", dataBatches)).toDF("pot", "key", "v"))
        .orderBy($"pot", $"key", $"v")
        .localCheckpoint(true)
    }
  }

  val streamPotRateLimitedFeedSql: String =
    """WITH base AS (
      |  SELECT 'n' || CAST(n_nationkey AS VARCHAR) AS key, n_regionkey
      |  FROM nation)
      |SELECT pot, key, v FROM (
      |  SELECT 'a' AS pot, key, CAST(0 AS INTEGER) AS v FROM base
      |    WHERE n_regionkey = 0
      |  UNION ALL
      |  SELECT 'a', key, CAST(1 AS INTEGER) FROM base WHERE n_regionkey = 0
      |  UNION ALL
      |  SELECT 'b', key, CAST(2 AS INTEGER) FROM base WHERE n_regionkey = 1
      |  UNION ALL
      |  SELECT 'c', key, CAST(3 AS INTEGER) FROM base WHERE n_regionkey = 2
      |  UNION ALL
      |  SELECT '_batches', '', CAST(3 AS INTEGER)) t
      |ORDER BY pot, key, v""".stripMargin

  /** st18: MULTI-POT change feed — `readStream` over a GLOB of pot
    * objects. Each pot keeps an independent generation chain, so the
    * stream's offset is the per-pot generation VECTOR
    * ([[graft.sources.PotMultiGenOffset]]) and each micro-batch plans one
    * delta partition per (pot, new generation) — the production bucket
    * feed (st17 is one pot; a real bucket holds thousands). Two pots
    * receive INTERLEAVED writes (upserts in both, plus a truncate rewrite
    * in pot b that drops keys → tombstones); the merged feed is fanned
    * back out per pot via the `pot_file` provenance column and replayed
    * relationally by the oracle. Deterministic: per-pot batch boundaries
    * are a pure function of each chain, and the emitted (pot, key, v)
    * log is trigger-schedule independent.
    */
  def streamMultiPotSource(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-st18", ram = true) { root =>
      val fmt = classOf[graft.sources.PotV2Source].getName
      def docs(df: DataFrame, v: Int) = df.select(
        lit("").as("pot_file"),
        concat(lit("n"), col("n_nationkey").cast("string")).as("key"),
        to_json(struct(col("n_name").as("name"), lit(v).as("v")))
          .as("doc_json"))
      def put(pot: String, df: DataFrame, v: Int, mode: String): Unit =
        docs(df, v).write.format(fmt)
          .option("path", s"$root/pots/$pot/data.json").mode(mode).save()
      val nat = graft.Tables.nation(s, d)
      val r0 = nat.filter($"n_regionkey" === 0)
      val r1 = nat.filter($"n_regionkey" === 1)
      // interleaved: a1, b1, a2 (append upserts), b2 (truncate → tombstones)
      put("a", r0, 0, "overwrite")
      put("b", r1, 0, "overwrite")
      put("a", r0.filter($"n_nationkey" % 2 === 0), 1, "append")
      put("b", r1.filter($"n_nationkey" % 2 === 1), 1, "overwrite")
      val feed = s"$root/feed"
      withStreamRunConf(s) {
        val q = s.readStream.format(fmt)
          .option("path", s"$root/pots/*/data.json").load()
          .writeStream.format("parquet")
          .option("path", feed)
          .option("checkpointLocation", s"$root/chk")
          .start()
        q.processAllAvailable()
        q.stop()
      }
      s.read.parquet(feed)
        .select(
          regexp_extract($"pot_file", "/(a|b)/data\\.json@", 1).as("pot"),
          $"key",
          when($"doc_json" === "null", -1)
            .otherwise(get_json_object($"doc_json", "$.v").cast("int"))
            .as("v"))
        .orderBy($"pot", $"key", $"v")
        .localCheckpoint(true)
    }
  }

  val streamMultiPotSourceSql: String =
    """WITH r0 AS (
      |  SELECT 'n' || CAST(n_nationkey AS VARCHAR) AS key, n_nationkey
      |  FROM nation WHERE n_regionkey = 0),
      |r1 AS (
      |  SELECT 'n' || CAST(n_nationkey AS VARCHAR) AS key, n_nationkey
      |  FROM nation WHERE n_regionkey = 1)
      |SELECT pot, key, CAST(v AS INTEGER) AS v FROM (
      |  SELECT 'a' AS pot, key, 0 AS v FROM r0
      |  UNION ALL SELECT 'a', key, 1 FROM r0 WHERE n_nationkey % 2 = 0
      |  UNION ALL SELECT 'b', key, 0 FROM r1
      |  UNION ALL SELECT 'b', key, 1 FROM r1 WHERE n_nationkey % 2 = 1
      |  UNION ALL SELECT 'b', key, -1 FROM r1 WHERE n_nationkey % 2 = 0) t
      |ORDER BY pot, key, v""".stripMargin

  /** st19: CDC MIRROR — the connector's quadrants COMPOSED: pot A's
    * change feed (st17's streaming source, sidecar-backed) streams
    * declaratively into pot B (st16's streaming sink, epoch-tagged
    * exactly-once), no foreachBatch anywhere. Delete tombstones
    * (doc_json = 'null') cannot be pot documents, so the mirror encodes
    * them as `{"__del__":true}` sentinel docs — the Kafka compacted-topic
    * model: B's PHYSICAL state carries tombstones, B's LOGICAL view
    * filters them, and a downstream mirror of B would propagate the
    * deletes onward. After draining, B's logical view must equal A's
    * final state exactly — LWW across generations, upserts superseded,
    * truncate-dropped keys gone (the oracle replays A's write history
    * relationally). Generation order is guaranteed end-to-end: the feed
    * plans one partition per generation in chain order and the sink
    * merges fragments in partition order.
    */
  def streamCdcMirror(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-st19", ram = true) { root =>
      val fmt = classOf[graft.sources.PotV2Source].getName
      val potA = s"$root/a/data.json"
      val potB = s"$root/b/data.json"
      def docs(df: DataFrame, v: Int) = df.select(
        lit("").as("pot_file"),
        concat(lit("n"), col("n_nationkey").cast("string")).as("key"),
        to_json(struct(col("n_name").as("name"), lit(v).as("v")))
          .as("doc_json"))
      val nat = graft.Tables.nation(s, d)
      // A's history: broad v0, a v1 update wave, then a truncate rewrite
      // that keeps region 1 + even-key region 0 at v2 (odd region-0 keys
      // are DROPPED → tombstones in the feed)
      docs(nat.filter($"n_regionkey" <= 1), 0)
        .write.format(fmt).option("path", potA).mode("overwrite").save()
      docs(nat.filter($"n_regionkey" === 0), 1)
        .write.format(fmt).option("path", potA).mode("append").save()
      docs(nat.filter($"n_regionkey" === 1 ||
          ($"n_regionkey" === 0 && $"n_nationkey" % 2 === 0)), 2)
        .write.format(fmt).option("path", potA).mode("overwrite").save()
      withStreamRunConf(s) {
        val q = s.readStream.format(fmt).option("path", potA).load()
          .select($"pot_file", $"key",
            when($"doc_json" === "null", lit("""{"__del__":true}"""))
              .otherwise($"doc_json").as("doc_json"))
          .writeStream.format(fmt)
          .option("path", potB)
          .option("checkpointLocation", s"$root/chk")
          .outputMode("append")
          .start()
        q.processAllAvailable()
        q.stop()
      }
      s.read.format(fmt).option("path", potB).load()
        .filter(get_json_object($"doc_json", "$.__del__").isNull)
        .select($"key",
          get_json_object($"doc_json", "$.name").as("name"),
          get_json_object($"doc_json", "$.v").cast("int").as("v"))
        .orderBy($"key")
        .localCheckpoint(true)
    }
  }

  val streamCdcMirrorSql: String =
    """SELECT 'n' || CAST(n_nationkey AS VARCHAR) AS key, n_name AS name,
      |  CAST(2 AS INTEGER) AS v
      |FROM nation
      |WHERE n_regionkey = 1 OR (n_regionkey = 0 AND n_nationkey % 2 = 0)
      |ORDER BY key""".stripMargin

  /** st20: streaming ingest into the SHARDED pot store
    * ([[graft.sources.BucketedPotV2Source]]) — the firehose shape: each
    * micro-batch epoch hash-routes its rows to per-bucket fragments
    * task-side, and every touched bucket commits its own O(change-set)
    * DELTA generation (threshold compaction per shard, epoch-tag
    * adoption per (query, epoch, bucket) = per-bucket exactly-once).
    * Where st16 streams into ONE pot (one chain absorbs every epoch),
    * this spreads the same stream across 8 independent chains — the
    * write-amplification and parallelism story of the bucketed store
    * carried into streaming. Readback goes through the sharded
    * connector's fold-aware glob scan, so delta-headed chains resolve
    * without any compaction having happened.
    */
  def streamBucketedSink(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-st20", ram = true) { root =>
      val store = s"$root/store"
      val fmt = classOf[graft.sources.BucketedPotV2Source].getName
      withStreamRunConf(s) {
        val q = eventsStream(s, d)
          .filter(col("event_id") % 41 === 0)
          .select(lit("").as("pot_file"),
            concat(lit("e"), col("event_id").cast("string")).as("key"),
            to_json(struct(col("event_type").as("et"),
              col("value").as("v"))).as("doc_json"))
          .writeStream
          .format(fmt)
          .option("path", store)
          .option("buckets", "8")
          .option("checkpointLocation", s"$root/chk")
          .outputMode("append")
          .start()
        q.processAllAvailable()
        q.stop()
      }
      s.read.format(fmt)
        .option("path", store).option("buckets", "8").load()
        .select(get_json_object($"doc_json", "$.et").as("event_type"),
          get_json_object($"doc_json", "$.v").cast("double").as("v"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), min($"v").as("vmin"), max($"v").as("vmax"))
        .orderBy($"event_type")
        .localCheckpoint(true)
    }
  }

  val streamBucketedSinkSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  MIN(value) AS vmin, MAX(value) AS vmax
      |FROM events
      |WHERE event_id % 41 = 0
      |GROUP BY 1
      |ORDER BY event_type""".stripMargin

  /** st21: CDC OUT of the sharded store — the multi-pot vector-offset
    * stream (st18) composed over `BucketedPotV2Source`'s bucket layout:
    * each bucket IS a pot chain, so `readStream` on the `_b=*` glob
    * drains every shard's generations with per-bucket exactly-once
    * offsets, and the feed carries the store's full SQL DML history —
    * the seed INSERT's upserts, the LWW wave's updated docs, and the
    * row-level DELETE's tombstones (a doc_json predicate the metadata
    * path declines, so the delete runs through the SupportsDelta rewrite
    * and surfaces in each touched bucket's sidecar). Bucket assignment
    * is hash-internal, but the feed's (key, doc) multiset is
    * bucket-independent — exactly what the oracle recomputes.
    */
  def streamBucketedCdc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-st21", ram = true) { root =>
      val store = s"$root/store"
      val bfmt = classOf[graft.sources.BucketedPotV2Source].getName
      val pfmt = classOf[graft.sources.PotV2Source].getName
      val tbl = "graft_st21_bpot"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      s.sql(s"CREATE TABLE $tbl (pot_file STRING, key STRING, " +
        s"doc_json STRING) USING $bfmt OPTIONS (path '$store', buckets '8')")
      Tables.nation(s, d).createOrReplaceTempView("graft_st21_nation")
      s.sql(s"""INSERT INTO $tbl
               |SELECT '' AS pot_file, concat('n', n_nationkey) AS key,
               |  to_json(named_struct('region', n_regionkey, 'v', 0))
               |    AS doc_json
               |FROM graft_st21_nation WHERE n_regionkey <= 2""".stripMargin)
      s.sql(s"""INSERT INTO $tbl
               |SELECT '', concat('n', n_nationkey),
               |  to_json(named_struct('region', n_regionkey, 'v', 1))
               |FROM graft_st21_nation WHERE n_regionkey = 0""".stripMargin)
      s.sql(s"""DELETE FROM $tbl
               |WHERE get_json_object(doc_json, '$$.region') = '2'"""
        .stripMargin)
      val feed = s"$root/feed"
      withStreamRunConf(s) {
        val q = s.readStream.format(pfmt)
          .option("path", s"$store/_b=*/data.json").load()
          .writeStream.format("parquet").option("path", feed)
          .option("checkpointLocation", s"$root/chk").start()
        q.processAllAvailable()
        q.stop()
      }
      val result = s.read.parquet(feed)
        .select($"key",
          coalesce(get_json_object($"doc_json", "$.v").cast("int"), lit(-1))
            .as("v"),
          ($"doc_json" === "null").as("deleted"))
        .orderBy($"key", $"deleted", $"v")
        .localCheckpoint(true)
      s.sql(s"DROP TABLE $tbl")
      s.catalog.dropTempView("graft_st21_nation")
      result
    }
  }

  val streamBucketedCdcSql: String =
    """WITH r AS (
      |  SELECT n_nationkey AS nk,
      |    'n' || CAST(n_nationkey AS VARCHAR) AS key,
      |    n_regionkey AS rg
      |  FROM nation)
      |SELECT key, v, deleted FROM (
      |  SELECT key, CAST(0 AS INTEGER) AS v, FALSE AS deleted
      |  FROM r WHERE rg <= 2
      |  UNION ALL
      |  SELECT key, CAST(1 AS INTEGER), FALSE FROM r WHERE rg = 0
      |  UNION ALL
      |  SELECT key, CAST(-1 AS INTEGER), TRUE FROM r WHERE rg = 2
      |) t
      |ORDER BY key, deleted, v""".stripMargin

  /** The custom-state core of [[streamPacking]], exposed for the spec's
    * multi-batch test: greedy first-fit-in-order packing of a doc stream
    * into [[graft.operators.TextAnalysis.PackBudget]]-token bins, state =
    * the one OPEN bin per shard. A bin emits when a later doc overflows
    * past it (it can never change again); the trailing open bin stays in
    * state unemitted — the closed-bins-only contract, st5's discipline
    * applied to packing. Docs sort by doc_id within each micro-batch
    * (delivery is unordered); cross-batch order is the arrival contract
    * a production packer has anyway.
    */
  private[graft] def packStream(
      docs: org.apache.spark.sql.Dataset[PackDoc]): org.apache.spark.sql.Dataset[PackBinOut] = {
    import docs.sparkSession.implicits._
    val budget = graft.operators.TextAnalysis.PackBudget
    docs.groupByKey(_.shard)
      .flatMapGroupsWithState[PackOpenBin, PackBinOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard: Long, it: Iterator[PackDoc], state: GroupState[PackOpenBin]) =>
          val (closed, open) = PackFold(
            shard, state.getOption, it.toArray.sortBy(_.doc_id), budget)
          open.foreach(state.update)
          closed.iterator
      }
  }

  /** st23: STREAMING SEQUENCE PACKING — t25's packer as the INGEST-time
    * operator it becomes in production (pack while the corpus lands, not
    * as an extra batch pass): one [[PackOpenBin]] of state per shard —
    * constant memory regardless of stream length — with completed bins
    * emitted append-mode the moment a doc overflows past them. The
    * trailing open bin per shard is deliberately withheld (it could
    * still absorb the next doc). Oracle: t25's recursive-CTE fold
    * restricted to closed bins (`bin < max(bin) per shard` — every shard
    * holds exactly one open bin at stream end, fixture docs all fit
    * under budget).
    */
  /** st24: `transformWithState` (Spark 4, SPARK-46815) — arbitrary
    * stateful processing v2, the typed successor to
    * flatMapGroupsWithState the rest of the st family uses: NAMED state
    * variables (ValueState/ListState/MapState) on the RocksDB store,
    * per-variable TTL, registered timers. The operator: per-user running
    * (count, sum-of-props.k) totals held in one ValueState, emitting a
    * milestone row each time a user's cumulative event count crosses a
    * multiple of 25 — the "alert every Nth interaction" production shape
    * that needs cross-batch state a windowed agg can't hold. Rows fold
    * in the fixture's unique (ts_us, event_id) order inside the
    * processor, so emission is batching-invariant and the oracle replays
    * it as a running window. RocksDB provider is REQUIRED by the API
    * (the conf is set for the run and restored); at scale that is the
    * point — state lives off-heap with changelog checkpointing, not in
    * executor heap. StreamingSpec drives the processor across TWO
    * MemoryStream batches to pin that state genuinely crosses batches.
    */
  def streamTransformWithState(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-st24", ram = true) { out =>
      runMilestoneStream(s, d, out)
      s.read.parquet(s"$out/data")
        .orderBy($"user_id", $"milestone").localCheckpoint(true)
    }
  }

  /** The st24 stream run (shared with st25, which re-opens its RocksDB
    * checkpoint through the state data source): drive the milestone
    * processor over the events fixture, parquet sink + checkpoint under
    * `out`. */
  private def runMilestoneStream(
      s: SparkSession, d: String, out: String): Unit = {
    import s.implicits._
    val prevProvider = s.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try withStreamRunConf(s) {
      val ev = eventsStream(s, d).select(
        $"user_id", unix_micros($"ts").as("ts_us"), $"event_id",
        get_json_object($"props", "$.k").cast("long").as("k")).as[TwsEvent]
      val q = ev.groupByKey(_.user_id)
        .transformWithState(new MilestoneProcessor(25L),
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Append())
        .writeStream
        .format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/chk")
        .outputMode("append")
        .start()
      q.processAllAvailable()
      q.stop()
    } finally prevProvider match {
      case Some(v) =>
        s.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None =>
        s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  /** st26: LATE-DATA AUDIT (r17) — the watermark's DROP SIDE made a
    * first-class, oracle-checked number. Every production stream faces
    * the question "what did the watermark throw away?", and the answer
    * usually lives only in UI metrics; here the
    * `numRowsDroppedByWatermark` state-operator metric is emitted AS A
    * ROW (w_start = -1) next to the admitted windowed counts, and the
    * DuckDB oracle recomputes BOTH from the batch split — pinning
    * Spark's exact lateness semantics (watermark = ms-truncated max
    * event time − delay, carried across micro-batches; a row is late
    * iff its window END is at or before the watermark its batch
    * opened with). Deterministic batching: a 2% fixture slice feeds a
    * MemoryStream in three explicit waves — on-time wave (sets the
    * watermark), late wave (mostly behind it), and a far-future flush
    * row that closes every real window for append-mode emission (its
    * own window stays open and never emits). The driver-side feed is
    * the harness source (MemoryStream is driver-fed by definition —
    * production swaps in Kafka); it is the bounded slice, never the
    * corpus. Output: (w_start, n) per surviving window + the (-1,
    * n_dropped) audit row.
    */
  def streamLateAudit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val table = "st26_" + java.util.UUID.randomUUID().toString.replace("-", "")
    // the 2% harness slice, split by a second modulus into the waves
    val slice = graft.Tables.events(s, d)
      .filter($"event_id" % 50 === 0)
      .select($"event_id", unix_micros($"ts").as("tus"))
      .as[(Long, Long)].collect().toSeq
    val b1 = slice.filter(r => (r._1 / 50) % 7 != 0)
    val b2 = slice.filter(r => (r._1 / 50) % 7 == 0)
    val flushTus = slice.map(_._2).max + 2L * 24 * 3600 * 1000000
    var dropped = 0L
    Scratch.withDir("graft-st26", ram = true) { chk =>
      // no-data batches ON (st5's exception rule): Spark filters late
      // events with the PREVIOUS batch's watermark (the late/eviction
      // split of SPARK-40925), so the wave-1 watermark reaches wave 2's
      // late filter only through the intervening no-data batch — skipping
      // them would admit every late row and the audit would read zero
      withStreamRunConf(s, skipNoData = false) {
        val mem = MemoryStream[(Long, Long)](
          implicitly[org.apache.spark.sql.Encoder[(Long, Long)]], s.sqlContext)
        val q = mem.toDF().toDF("event_id", "tus")
          .select(timestamp_micros($"tus").as("ts"))
          .withWatermark("ts", "10 minutes")
          .groupBy(window($"ts", "15 minutes"))
          .agg(count(lit(1)).as("n"))
          .select(unix_timestamp($"window.start").as("w_start"), $"n")
          .writeStream.format("memory").queryName(table)
          .option("checkpointLocation", s"$chk/chk")
          .outputMode("append")
          .start()
        mem.addData(b1); q.processAllAvailable()
        mem.addData(b2); q.processAllAvailable()
        mem.addData(Seq((-1L, flushTus))); q.processAllAvailable()
        dropped = q.recentProgress.toSeq
          .flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
          .map(_.numRowsDroppedByWatermark).sum
        q.stop()
      }
    }
    val audit = Seq((-1L, dropped)).toDF("w_start", "n")
    val result = s.table(table).select($"w_start", $"n")
      .unionByName(audit)
      .orderBy($"w_start").localCheckpoint(true)
    s.catalog.dropTempView(table)
    result
  }

  val streamLateAuditSql: String =
    """WITH sl AS (
      |  SELECT event_id, epoch_us(ts) AS tus FROM events
      |  WHERE event_id % 50 = 0),
      |b1 AS (SELECT tus FROM sl WHERE (event_id // 50) % 7 <> 0),
      |b2 AS (SELECT tus FROM sl WHERE (event_id // 50) % 7 = 0),
      |wm AS (SELECT (MAX(tus) // 1000 - 600000) * 1000 AS w FROM b1),
      |adm AS (
      |  SELECT tus FROM b1
      |  UNION ALL
      |  SELECT tus FROM b2, wm
      |  WHERE (tus // 900000000 + 1) * 900000000 > wm.w),
      |agg AS (
      |  SELECT CAST(tus // 900000000 * 900 AS BIGINT) AS w_start,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM adm GROUP BY 1),
      |drp AS (
      |  SELECT CAST(-1 AS BIGINT) AS w_start, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM b2, wm
      |  WHERE (tus // 900000000 + 1) * 900000000 <= wm.w)
      |SELECT w_start, n FROM agg
      |UNION ALL
      |SELECT w_start, n FROM drp
      |ORDER BY w_start""".stripMargin

  /** st25: the STATE DATA SOURCE (Spark 4, SPARK-45511) — a streaming
    * query's checkpointed state read back as a BATCH TABLE
    * (`spark.read.format("statestore")`), the observability surface
    * that turns "what is my stream holding?" from a debugger question
    * into SQL: run st24's transformWithState stream to completion, then
    * open its RocksDB checkpoint OFFLINE and read the named `totals`
    * ValueState — every user's running (count, Σk) exactly as the
    * processor left it. The oracle replays the totals from the events
    * table directly, so this pins END-TO-END that the stream's
    * persisted state equals the batch truth (state corruption, encoder
    * drift, or a missed row would all hash-mismatch). At scale this is
    * how state is audited, backfilled, and migrated (the
    * state-rebalance story) without replaying the stream.
    */
  def streamStateStoreReader(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Scratch.withDir("graft-st25", ram = true) { out =>
      runMilestoneStream(s, d, out)
      val state = s.read.format("statestore")
        .option("path", s"$out/chk")
        .option("stateVarName", "totals")
        .load()
      state
        .select($"key.value".as("user_id"), $"value.cnt".as("n_events"),
          $"value.sumK".as("sum_k"))
        .orderBy($"user_id").localCheckpoint(true)
    }
  }

  val streamStateStoreReaderSql: String =
    """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
      |    AS sum_k
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  val streamTransformWithStateSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS tus, event_id,
      |    CAST(json_extract(props, '$.k') AS BIGINT) AS k
      |  FROM events),
      |r AS (
      |  SELECT user_id, event_id,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY tus, event_id) AS rn,
      |    SUM(k) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM e)
      |SELECT user_id, CAST(rn AS BIGINT) AS milestone, event_id,
      |  CAST(cum AS BIGINT) AS cum_k
      |FROM r WHERE rn % 25 = 0
      |ORDER BY user_id, milestone""".stripMargin

  def streamPacking(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val batchDocs = Tables.documents(s, d)
    val docs = s.readStream.schema(batchDocs.schema)
      .parquet(fixtureStreamDir(d, "documents"))
      .select($"doc_id",
        ($"doc_id" % graft.operators.TextAnalysis.PackShards).as("shard"),
        size(split($"text", " ")).as("n"))
      .as[PackDoc]
    Scratch.withDir("graft-st23", ram = true) { out =>
      withStreamRunConf(s) {
        val q = packStream(docs)
          .writeStream
          .format("parquet")
          .option("path", s"$out/data")
          .option("checkpointLocation", s"$out/chk")
          .outputMode("append")
          .start()
        q.processAllAvailable()
        q.stop()
      }
      s.read.parquet(s"$out/data")
        .orderBy($"shard", $"bin").localCheckpoint(true)
    }
  }

  val streamPackingSql: String =
    graft.operators.TextAnalysis.packStepsCte + "\n" +
      """SELECT shard, bin, n_docs, fill_tokens, first_doc, last_doc
        |FROM (SELECT b.*, MAX(bin) OVER (PARTITION BY shard) AS mxbin
        |      FROM bins b) t
        |WHERE bin < mxbin
        |ORDER BY shard, bin""".stripMargin

  /** st22: STATEMENT-CONSISTENT CDC APPLY (r16) — the consumer recipe
    * [[graft.sources.BucketedStmtLog]] documents, demonstrated end to
    * end: the sharded store's change feed is a physical per-chain log
    * (bucket commits surface as they land), so a downstream apply that
    * needs statement atomicity must group deltas on the STATEMENT TAG
    * (embedded in each generation's artifact stem) and HOLD a
    * statement's deltas until its `_stmts/open` barrier clears. The
    * fixture crashes a multi-bucket INSERT mid-apply (intent up, exactly
    * one bucket's chain committed) and folds the feed TWICE:
    *
    *   - phase `1_held`: the consumer's applied view with the crashed
    *     statement's tag still open — the committed-prefix bucket's
    *     deltas are HELD, so the view equals the seed statement exactly
    *     (a prefix-applied statement is never emitted downstream);
    *   - phase `2_released`: after `recoverStatements` rolls the crash
    *     forward (barrier clears), the same fold applies the whole
    *     statement atomically.
    *
    * Tag resolution is driver-bounded (buckets × generations commit
    * markers — the index's metadata, not a data pass) and joins the feed
    * broadcast; the apply itself is one per-key LWW window over
    * (bucket, generation) — keys never move buckets, so per-key order is
    * per-chain order. Oracle replays both phases relationally.
    */
  def streamStmtConsistentCdc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    Scratch.withDir("graft-st22", ram = true) { root =>
      val store = s"$root/store"
      val bfmt = classOf[graft.sources.BucketedPotV2Source].getName
      val pfmt = classOf[graft.sources.PotV2Source].getName
      val nat = Tables.nation(s, d)
      // statement A (completed multi-bucket INSERT): regions <= 1 at v0
      nat.filter($"n_regionkey" <= 1).select(lit("").as("pot_file"),
          concat(lit("n"), $"n_nationkey").as("key"),
          to_json(struct($"n_regionkey".as("r"), lit(0).as("v")))
            .as("doc_json"))
        .write.format(bfmt).option("path", store).option("buckets", "8")
        .mode("append").save()
      // statement B, CRASHED mid-apply: intent published, fragments staged
      // for every touched bucket, exactly the FIRST bucket's chain
      // committed (the prefix a naive CDC consumer would leak)
      val bKeys = nat.filter($"n_regionkey" === 0)
        .select(concat(lit("n"), $"n_nationkey").as("key"))
        .as[String].collect().sorted.toSeq
      val byBucket = bKeys.groupBy(
        graft.sources.BucketedPotV2Source.bucketOf(_, 8))
      val staging = new java.io.File(s"$store/.staging-st22b")
      staging.mkdirs()
      val frags = byBucket.map { case (b, ks) =>
        val f = new java.io.File(staging, s"part-b$b.jsonl")
        java.nio.file.Files.writeString(f.toPath,
          ks.map(k => s"""{"k":"$k","d":{"r":0,"v":1}}""")
            .mkString("", "\n", "\n"))
        b -> Seq((0, f.toString))
      }
      val base = graft.sources.BucketedPotV2Source.headVector(store, 8)
      graft.sources.BucketedStmtLog.begin(store, "st22-crashed",
        graft.sources.BucketedStmtLog.intentBody("insert", "st22-crashed",
          truncate = false, Long.MaxValue, byBucket.keys.toSeq.sorted,
          byBucket.keys.map(b => b -> base.getOrElse(b, 0L)).toMap, frags))
      val b0 = byBucket.keys.min
      new graft.sources.PotV2Write(
        graft.sources.BucketedPotV2Source.bucketPot(store, b0),
        graft.sources.PotV2Source.Schema, s"st22-crashed-b$b0",
        truncateFirst = false)
        .commitEntries(
          Array(graft.sources.PotFragmentMessage(0, frags(b0).head._2)),
          truncate = false, snapTag = Some("qst22cras"),
          retryOnConflict = true,
          staging = new org.apache.hadoop.fs.Path(store, ".scratch-b0"))
      // ---- the consumer (the BucketedStmtLog recipe) ----
      def appliedView(phase: String): DataFrame = {
        val fs = new org.apache.hadoop.fs.Path(store)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        // statement-tag dimension: (bucket, generation) -> artifact stem
        // tag. Bounded metadata (buckets x generations markers).
        val TagRe = "^\\.(?:snap|dgen)-(q[0-9a-z]+)-".r
        val tagRows = (0 until 8).flatMap { b =>
          val pot = new org.apache.hadoop.fs.Path(
            graft.sources.BucketedPotV2Source.bucketPot(store, b))
          val commits = new org.apache.hadoop.fs.Path(pot.getParent, ".commits")
          graft.kv.CommitMarker.committedGenerations(fs, commits).map { g =>
            val stem = new org.apache.hadoop.fs.Path(
              graft.sources.PotChain.artifactOf(fs, commits, g)).getName
            (b, g, TagRe.findFirstMatchIn(stem).map(_.group(1)).getOrElse(""))
          }
        }
        // HOLD set: tags of statements whose barrier is still up
        val openTags = graft.sources.BucketedStmtLog.openStatements(store)
          .map { case (qid, _) => "q" + qid.replace("-", "").take(8) }
        val tags = tagRows.toDF("b", "gen", "tag")
          .withColumn("held",
            if (openTags.isEmpty) lit(false) else $"tag".isin(openTags: _*))
        val feed = s.read.format(pfmt)
          .option("path", s"$store/_b=*/data.json")
          .option("changesFromVector", "{}").load()
          .select(
            regexp_extract($"pot_file", "_b=([0-9]+)/", 1).cast("int")
              .as("b"),
            regexp_extract($"pot_file", "@([0-9]+)$", 1).cast("long")
              .as("gen"),
            $"key", $"doc_json")
        val wnd = Window.partitionBy($"key").orderBy($"gen".desc)
        feed.join(broadcast(tags), Seq("b", "gen"))
          .filter(!$"held") // the recipe: open statements' deltas wait
          .withColumn("rn", row_number().over(wnd))
          .filter($"rn" === 1 && $"doc_json" =!= "null")
          .select(lit(phase).as("phase"), $"key",
            get_json_object($"doc_json", "$.v").cast("int").as("v"))
      }
      // phase 1 materialized BEFORE recovery: the crashed statement's
      // committed-prefix bucket exists in the feed but is HELD
      val held = appliedView("1_held").localCheckpoint(true)
      graft.sources.BucketedPotV2Source.recoverStatements(store)
      val released = appliedView("2_released").localCheckpoint(true)
      held.unionByName(released)
        .orderBy($"phase", $"key").localCheckpoint(true)
    }
  }

  val streamStmtConsistentCdcSql: String =
    """WITH r AS (
      |  SELECT 'n' || CAST(n_nationkey AS VARCHAR) AS key,
      |    n_regionkey AS rg
      |  FROM nation)
      |SELECT phase, key, v FROM (
      |  SELECT '1_held' AS phase, key, CAST(0 AS INTEGER) AS v
      |  FROM r WHERE rg <= 1
      |  UNION ALL
      |  SELECT '2_released', key,
      |    CAST(CASE WHEN rg = 0 THEN 1 ELSE 0 END AS INTEGER)
      |  FROM r WHERE rg <= 1) t
      |ORDER BY phase, key""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st27_rate_limited_feed" -> (streamRateLimitedFeed _),
    "st28_pot_rate_limited_feed" -> (streamPotRateLimitedFeed _),
    "st26_late_data_audit" -> (streamLateAudit _),
    "st25_state_store_reader" -> (streamStateStoreReader _),
    "st24_transform_with_state" -> (streamTransformWithState _),
    "st23_stream_packing" -> (streamPacking _),
    "st22_stmt_consistent_cdc" -> (streamStmtConsistentCdc _),
    "st21_stream_bucketed_cdc" -> (streamBucketedCdc _),
    "st20_stream_bucketed_sink" -> (streamBucketedSink _),
    "st19_cdc_mirror" -> (streamCdcMirror _),
    "st18_stream_multipot" -> (streamMultiPotSource _),
    "st17_stream_pot_source" -> (streamPotSource _),
    "st16_stream_pot_sink" -> (streamPotSink _),
    "st15_stream_dlq" -> (streamDlqRouter _),
    "st14_stream_ann_ingest" -> (streamAnnIngest _),
    "st13_stream_rollup" -> (streamRollup _),
    "st9_stream_pot_ingest" -> (streamPotIngest _),
    "st8_stream_latest"    -> (streamLatest _),
    "st7_stream_ann_match" -> (streamAnnMatch _),
    "st6_stream_ingest_dedup" -> (streamIncrementalDedup _),
    "st10_stream_dedup_postappend" -> (streamPostAppendDedup _),
    "st11_stream_attribution_outer" -> (streamAttributionOuter _),
    "st12_stream_additive_counts" -> (streamAdditiveCounts _),
    "st5_stream_sessions" -> (streamSessions _),
    "st1_stream_dedup"    -> (streamDedup _),
    "st2_stream_tumbling" -> (streamTumbling _),
    "st3_stream_enriched" -> (streamEnriched _),
    "st4_stream_attribution" -> (streamClickAttribution _))

  val oracle: Map[String, String] = Map(
    "st27_rate_limited_feed" -> streamRateLimitedFeedSql,
    "st28_pot_rate_limited_feed" -> streamPotRateLimitedFeedSql,
    "st26_late_data_audit" -> streamLateAuditSql,
    "st25_state_store_reader" -> streamStateStoreReaderSql,
    "st24_transform_with_state" -> streamTransformWithStateSql,
    "st23_stream_packing" -> streamPackingSql,
    "st22_stmt_consistent_cdc" -> streamStmtConsistentCdcSql,
    "st21_stream_bucketed_cdc" -> streamBucketedCdcSql,
    "st20_stream_bucketed_sink" -> streamBucketedSinkSql,
    "st19_cdc_mirror" -> streamCdcMirrorSql,
    "st18_stream_multipot" -> streamMultiPotSourceSql,
    "st17_stream_pot_source" -> streamPotSourceSql,
    "st16_stream_pot_sink" -> streamPotSinkSql,
    "st15_stream_dlq" -> streamDlqRouterSql,
    "st14_stream_ann_ingest" -> graft.operators.Similarity.annMultiProbeSql,
    "st13_stream_rollup" -> streamRollupSql,
    "st9_stream_pot_ingest" -> streamPotIngestSql,
    "st8_stream_latest"    -> streamLatestSql,
    "st7_stream_ann_match" -> streamAnnMatchSql,
    "st6_stream_ingest_dedup" -> graft.operators.Pipeline.incrementalDedupSql,
    "st10_stream_dedup_postappend" -> graft.operators.Pipeline.incrementalDedupSql,
    "st11_stream_attribution_outer" -> streamAttributionOuterSql,
    "st12_stream_additive_counts" -> streamAdditiveCountsSql,
    "st5_stream_sessions" -> streamSessionsSql,
    "st1_stream_dedup"    -> streamDedupSql,
    "st2_stream_tumbling" -> streamTumblingSql,
    "st3_stream_enriched" -> streamEnrichedSql,
    "st4_stream_attribution" -> streamClickAttributionSql)
}
