package graft

import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming transforms driven synchronously via MemoryStream. */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  private def ts(minute: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-01 00:$minute%02d:00")

  test("tumbling streaming counts match batch semantics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(
      Event(1, ts(1), 10, "click", 1.0),
      Event(2, ts(2), 10, "click", 2.0),
      Event(3, ts(20), 11, "view", 3.0))
    val q = EventStreams.tumblingCounts(mem.toDF())
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode(OutputMode.Update()).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("tumbling_out")
        .select("event_type", "n").as[(String, Long)].collect().toMap
      assert(rows === Map("click" -> 2L, "view" -> 1L))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups replayed event_ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(
      Event(1, ts(1), 10, "click", 1.0),
      Event(1, ts(1), 10, "click", 1.0), // exact replay
      Event(2, ts(2), 10, "view", 2.0))
    val q = EventStreams.dedupeEvents(mem.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() === 2L)
    } finally q.stop()
  }

  test("mapGroupsWithState accumulates running per-user totals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(
      Event(1, ts(1), 10, "click", 1.5),
      Event(2, ts(2), 10, "click", 2.5),
      Event(3, ts(3), 11, "view", 10.0))
    val q = EventStreams.runningUserTotals(mem.toDS())
      .writeStream.format("memory").queryName("running_out")
      .outputMode(OutputMode.Update()).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("running_out")
        .select("user_id", "n_events", "total")
        .as[(Long, Long, Double)].collect()
        .groupBy(_._1).view.mapValues(_.last).toMap
      assert(rows(10L) === ((10L, 2L, 4.0)))
      assert(rows(11L) === ((11L, 1L, 10.0)))
    } finally q.stop()
  }

  test("streaming writes to a real parquet file sink with checkpointing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val mem = MemoryStream[Event]
    mem.addData(
      Event(1, ts(1), 10, "click", 1.0),
      Event(2, ts(2), 11, "view", 2.0))
    val q = EventStreams.dedupeEvents(mem.toDF())
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(s"$base/out").count() === 2L)
    } finally q.stop()
  }

  test("appendable dedup index: union of generations == full-corpus relations (st10)") {
    import spark.implicits._
    import graft.streaming.DedupIndex
    // the union of the base + appended generations must equal the
    // build-once full-corpus index relations — the at-rest core of st10's
    // append-then-stream == batch-recompute equivalence
    val full = DedupIndex.fingerprints(spark, sf)
      .as[String].collect().sorted.toSeq
    val unioned = DedupIndex.fingerprintsAll(spark, sf)
      .as[String].collect().sorted.toSeq
    assert(unioned === full)
    val fullB = DedupIndex.bands(spark, sf)
      .as[(Int, String)].collect().sorted.toSeq
    val unionedB = DedupIndex.bandsAll(spark, sf)
      .as[(Int, String)].collect().sorted.toSeq
    assert(unionedB === fullB)
    // multiplicity: the union readers are duplicate-free even where a
    // (band, sig) lives in both batches — st10's per-band LEFT joins
    // would otherwise multiply stream rows
    assert(unionedB.distinct === unionedB)
  }

  test("appendable dedup index: concurrent cold-start locates agree (append race)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import graft.streaming.DedupIndex
    // two racers resolving base+append generations: the marker CAS hands
    // both the SAME committed dirs (losers adopt), so readers can never
    // see torn or double-built generations
    val (a, b) = (
      Future(DedupIndex.locateGenerations(spark, sf)),
      Future(DedupIndex.locateGenerations(spark, sf)))
    val (ra, rb) = (Await.result(a, 120.seconds), Await.result(b, 120.seconds))
    assert(ra === rb)
    assert(ra.map(_._1) === Seq(1L, 2L))
  }

  test("st1/st2 leave no temp state behind across repeated invocations") {
    import graft.streaming.StreamingQueries
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def st1Dirs = tmp.listFiles().count(_.getName.startsWith("graft-st1"))
    def st2Views = spark.catalog.listTables().collect()
      .count(t => t.name.startsWith("st2_") || t.name.startsWith("st3_"))
    // delta-based: stale dirs from earlier (pre-fix) sessions may exist
    val dirs0 = st1Dirs
    val views0 = st2Views
    val r1 = StreamingQueries.streamDedup(spark, sf).count()
    val r2 = StreamingQueries.streamDedup(spark, sf).count()
    assert(r1 === r2)
    assert(st1Dirs === dirs0, "st1 sink/checkpoint temp dirs not cleaned up")
    val t1 = StreamingQueries.streamTumbling(spark, sf).count()
    val t2 = StreamingQueries.streamTumbling(spark, sf).count()
    assert(t1 === t2)
    StreamingQueries.streamEnriched(spark, sf).count()
    assert(st2Views === views0, "st2/st3 memory-sink temp views not dropped")
  }

  test("a drained run whose batch throws rethrows, leaving no query, dir or view") {
    import spark.implicits._
    import graft.streaming.StreamingQueries
    import org.apache.spark.sql.functions.udf
    import org.apache.spark.sql.streaming.StreamingQueryException
    implicit val sqlCtx = spark.sqlContext
    val boom = udf { (v: Long) =>
      if (v == 2L) throw new IllegalStateException("batch boom")
      v
    }
    def dirs = Seq("/dev/shm", System.getProperty("java.io.tmpdir"))
      .flatMap(d => Option(new java.io.File(d).list()).toSeq.flatten)
      .count(_.startsWith("graft-stspec"))
    def views = spark.catalog.listTables().collect()
      .count(_.name.startsWith("stspec_"))
    val (dirs0, views0) = (dirs, views)
    val mem = MemoryStream[Long]
    mem.addData(1L, 2L, 3L)
    intercept[StreamingQueryException] {
      StreamingQueries.drainToMemory(spark, "stspec", "append") {
        mem.toDF().select(boom($"value").as("v"))
      }(identity)
    }
    assert(spark.streams.active.isEmpty, "the failed query is still active")
    assert(dirs === dirs0, "the run's scratch checkpoint dir survived")
    assert(views === views0, "the run's memory-sink view survived")
  }

  test("st5 sessionize emits an in-batch-closed session immediately") {
    import spark.implicits._
    import graft.streaming.{SessEvent, SessionOut, StreamingQueries}
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200000L // 2024-01-01T00:00:00Z in epoch ms
    val mem = MemoryStream[Event]
    // user 3: two events 40 min apart — the second closes the first
    // session in the SAME batch; the trailing session's timeout
    // (40min+30min) is past the final watermark (40min), so it stays open
    mem.addData(
      Event(1, new java.sql.Timestamp(base), 3, "click", 1.0),
      Event(2, new java.sql.Timestamp(base + 40 * 60000L), 3, "click", 1.0))
    val ev = mem.toDF().withWatermark("ts", "0 seconds")
      .select($"user_id", $"ts",
        org.apache.spark.sql.functions.unix_micros($"ts").as("ts_us"))
      .as[SessEvent]
    val q = StreamingQueries.sessionize(ev)
      .writeStream.format("memory").queryName("st5_inbatch")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("st5_inbatch").as[SessionOut].collect().toSeq
      assert(rows === Seq(SessionOut(3, base / 1000, 1)))
    } finally { q.stop(); spark.catalog.dropTempView("st5_inbatch") }
  }

  test("st5 event-time timeout fires on watermark STRICTLY past end+gap") {
    import spark.implicits._
    import graft.streaming.{SessEvent, SessionOut, StreamingQueries}
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200000L
    val gapMs = 30 * 60000L
    val mem = MemoryStream[Event]
    // batch 1: user 1 at t=base (timeout base+gap), user 2 at t=base-1ms
    // (timeout base+gap-1) — the 1 ms probe brackets the boundary
    mem.addData(
      Event(1, new java.sql.Timestamp(base), 1, "click", 1.0),
      Event(2, new java.sql.Timestamp(base - 1), 2, "click", 1.0))
    val ev = mem.toDF().withWatermark("ts", "0 seconds")
      .select($"user_id", $"ts",
        org.apache.spark.sql.functions.unix_micros($"ts").as("ts_us"))
      .as[SessEvent]
    val q = StreamingQueries.sessionize(ev)
      .writeStream.format("memory").queryName("st5_boundary")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      // batch 2: watermark driver at exactly base+gap — afterwards the
      // watermark EQUALS user 1's timeout and exceeds user 2's by 1 ms
      mem.addData(
        Event(3, new java.sql.Timestamp(base + gapMs), 9, "flush", 0.0))
      q.processAllAvailable()
      val rows = spark.table("st5_boundary").as[SessionOut].collect().toSeq
      // user 2 fires (timeout < watermark); user 1 does NOT (equal) — the
      // strict comparison the st5 oracle mirrors with `end+gap < wm`
      assert(rows === Seq(SessionOut(2, (base - 1) / 1000, 1)),
        s"boundary semantics changed: $rows")
    } finally { q.stop(); spark.catalog.dropTempView("st5_boundary") }
  }

  test("st7 corpus bucket cap drops a viral bucket, keeps small ones") {
    import spark.implicits._
    // 150 identical embeddings (> LshBucketCap 100) collide in EVERY band
    // bucket — without the cap each colliding stream row would fan out x150
    // at join time. 3 copies of a different vector stay under the cap.
    val hot = Array.fill(64)(0.5f)
    val cold = Array.tabulate(64)(i => if (i % 2 == 0) 0.5f else -0.5f)
    val emb = ((1L to 150L).map(id => (id, hot.toSeq)) ++
      (200L to 202L).map(id => (id, cold.toSeq)))
      .toDF("vec_id", "embedding")
      .withColumn("embedding", $"embedding".cast("array<float>"))
    val capped = graft.streaming.StreamingQueries.cappedCorpusBands(emb)
      .select($"m_id").distinct().as[Long].collect().toSet
    assert(!capped.exists(_ <= 150L),
      s"viral bucket members survived the cap: $capped")
    assert(capped === Set(200L, 201L, 202L),
      s"small bucket should be fully retained: $capped")
  }

  test("session windows close after the gap (streaming)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(
      Event(1, ts(1), 10, "click", 1.0),
      Event(2, ts(5), 10, "click", 1.0),  // same session (gap < 30m)
      Event(3, ts(50), 10, "click", 1.0)) // new session
    // session aggregation requires Append mode: rows emit once the watermark
    // passes the session end, so push a late flush event in a second batch
    val q = EventStreams.userSessions(mem.toDF())
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      mem.addData(Event(99, java.sql.Timestamp.valueOf("2024-01-01 05:00:00"),
        99, "flush", 0.0))
      q.processAllAvailable()
      val n = spark.table("sessions_out").count()
      assert(n >= 2L, s"expected >=2 closed sessions, got $n")
    } finally q.stop()
  }

  test("st11 outer attribution: matches == st4, null rows only for truly unmatched clicks") {
    import spark.implicits._
    val outer = streaming.StreamingQueries.streamAttributionOuter(spark, sf)
      .collect()
    val matched = outer.filter(!_.isNullAt(1))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val unmatched = outer.filter(_.isNullAt(1)).map(_.getLong(0)).toSet
    assert(matched.nonEmpty && unmatched.nonEmpty)
    // the inner join's matches are exactly st4's result
    val st4 = streaming.StreamingQueries.streamClickAttribution(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(matched === st4)
    // a click with any match must never also emit a null-extended row
    assert(unmatched.intersect(matched.map(_._1)).isEmpty)
    // every click appears at most once across matched/unmatched; any
    // shortfall vs the raw click count is the watermark-withheld tail
    // (exact visibility semantics are the DuckDB oracle's job — 1 click
    // withheld on the current sf0.001 fixture)
    val nClicks = Tables.events(spark, sf)
      .filter($"event_type" === "click").count()
    assert(matched.map(_._1).size + unmatched.size <= nClicks)
  }

  test("st14 ann ingest: any batch split yields the same lookup as one-shot build") {
    import org.apache.spark.sql.functions.col
    // the st14 invariant decoupled from the stream runtime: three
    // deterministic "micro-batches" appended as generations must answer
    // exactly what the one-shot index answers — batch boundaries invisible
    val root = java.nio.file.Files
      .createTempDirectory("graft-st14-spec").toString
    val base = new org.apache.hadoop.fs.Path(s"$root/idx")
    val emb = Tables.embeddings(spark, sf)
    (0 until 3).foreach { r =>
      graft.operators.Similarity.appendEmbeddingBatch(
        spark, base, emb.filter(col("vec_id") % 3 === r))
    }
    val streamed = graft.operators.Similarity
      .annLookupOverGenerations(spark, sf, base).collect().toSeq
    val oneShot = SparkEntry.queries("s3_ann_multiprobe")(spark, sf)
      .collect().toSeq
    assert(streamed === oneShot)
    new scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
  }

  test("st14 ann ingest: a checkpoint-replayed batchId is adopted, not re-appended") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files
      .createTempDirectory("graft-st14-replay").toString
    val base = new org.apache.hadoop.fs.Path(s"$root/idx")
    val emb = Tables.embeddings(spark, sf)
    (0 until 2).foreach { r =>
      graft.operators.Similarity.appendEmbeddingBatch(
        spark, base, emb.filter(col("vec_id") % 2 === r), batchId = r.toLong)
    }
    val gens = graft.operators.AnnIndex.committedGenerations(spark, base)
    assert(gens.map(_._1) === Seq(1L, 2L))
    // replay batch 1 (crash between commit and checkpoint write): the
    // committed generation is adopted — no third generation, no dup rows
    graft.operators.Similarity.appendEmbeddingBatch(
      spark, base, emb.filter(col("vec_id") % 2 === 1), batchId = 1L)
    val after = graft.operators.AnnIndex.committedGenerations(spark, base)
    assert(after === gens, s"replayed batch re-appended: $after")
    // an UNSEEN batchId still appends
    graft.operators.Similarity.appendEmbeddingBatch(
      spark, base, emb.filter(col("vec_id") === 0), batchId = 2L)
    assert(graft.operators.AnnIndex.committedGenerations(spark, base)
      .map(_._1) === Seq(1L, 2L, 3L))
    new scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
  }

  test("st14 ann ingest: query-scoped tags keep two streams' equal batchIds apart") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files
      .createTempDirectory("graft-st14-scope").toString
    val base = new org.apache.hadoop.fs.Path(s"$root/idx")
    val emb = Tables.embeddings(spark, sf)
    // two INDEPENDENT streaming queries append batch 0 to one index base:
    // without a scope the second would adopt the first's generation and
    // silently drop its rows (the PotV2 sink's collision class)
    graft.operators.Similarity.appendEmbeddingBatch(
      spark, base, emb.filter(col("vec_id") % 2 === 0),
      batchId = 0L, scope = "qA")
    graft.operators.Similarity.appendEmbeddingBatch(
      spark, base, emb.filter(col("vec_id") % 2 === 1),
      batchId = 0L, scope = "qB")
    val gens = graft.operators.AnnIndex.committedGenerations(spark, base)
    assert(gens.map(_._1) === Seq(1L, 2L),
      s"second query's batch was adopted away: $gens")
    // replay within a scope still adopts
    graft.operators.Similarity.appendEmbeddingBatch(
      spark, base, emb.filter(col("vec_id") % 2 === 1),
      batchId = 0L, scope = "qB")
    assert(graft.operators.AnnIndex.committedGenerations(spark, base)
      .map(_._1) === Seq(1L, 2L))
    new scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
  }

  test("st19 mirror survives a RESTART: resumes from the committed offset, exactly-once into B") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{when, lit, get_json_object}
    // The end-to-end composition pin for the declarative CDC mirror:
    // change-feed source (st17) → pot sink (st16) across a stop/restart.
    // The restarted query must resume from the committed generation (no
    // re-delivery) and the sink's epoch tags must keep B exactly-once.
    val root = java.nio.file.Files
      .createTempDirectory("graft-st19-restart").toString
    val fmt = classOf[graft.sources.PotV2Source].getName
    val potA = s"$root/a/data.json"
    val potB = s"$root/b/data.json"
    def put(rows: Seq[(String, Int)], mode: String): Unit =
      rows.map { case (k, v) => ("", k, s"""{"v": $v}""") }
        .toDF("pot_file", "key", "doc_json")
        .write.format(fmt).option("path", potA).mode(mode).save()
    def mirror(): Unit = {
      val q = spark.readStream.format(fmt).option("path", potA).load()
        .select($"pot_file", $"key",
          when($"doc_json" === "null", lit("""{"__del__":true}"""))
            .otherwise($"doc_json").as("doc_json"))
        .writeStream.format(fmt)
        .option("path", potB)
        .option("checkpointLocation", s"$root/chk")
        .outputMode("append")
        .start()
      q.processAllAvailable(); q.stop()
    }
    put(Seq("a" -> 1, "b" -> 2), "overwrite")
    mirror() // run 1 drains generation 1
    put(Seq("b" -> 9), "append")
    put(Seq("c" -> 3), "overwrite") // truncate: a + b drop → tombstones
    mirror() // run 2 must resume at gen 2, not replay gen 1
    def logical(pot: String): Map[String, String] =
      spark.read.format(fmt).option("path", pot).load()
        .filter(get_json_object($"doc_json", "$.__del__").isNull)
        .select($"key", $"doc_json").as[(String, String)]
        .collect().toMap
    assert(logical(potB) === Map("c" -> """{"v":3}"""),
      "mirror state diverged across restart")
    // physical B carries the tombstone sentinels for a and b (the
    // compacted-topic contract st19 documents)
    val phys = spark.read.format(fmt).option("path", potB).load()
      .select($"key", $"doc_json").as[(String, String)].collect().toMap
    assert(phys.get("a").contains("""{"__del__":true}""") &&
      phys.get("b").contains("""{"__del__":true}"""), phys.toString)
  }

  test("st22 statement-consistent apply: a crashed statement's committed-prefix deltas are HELD, released whole after recovery (r16)") {
    import spark.implicits._
    // the query embeds the mid-statement crash (intent up, one bucket's
    // chain committed); this pin asserts the consumer contract directly:
    // the held phase carries ZERO of the crashed statement's rows — a
    // prefix-applied statement is never emitted downstream — and the
    // released phase carries ALL of them
    val out = graft.streaming.StreamingQueries
      .streamStmtConsistentCdc(spark, sf)
      .select($"phase", $"v").as[(String, Int)].collect().toSeq
    val held = out.filter(_._1 == "1_held").map(_._2)
    val released = out.filter(_._1 == "2_released").map(_._2)
    assert(held.nonEmpty && held.forall(_ === 0),
      s"held phase leaked a committed-prefix delta: $held")
    assert(released.count(_ === 1) > 0 && released.count(_ === 0) > 0,
      s"released phase did not apply the recovered statement: $released")
    assert(held.length === released.length)
  }

  test("streaming ingest into a PotTable: foreachBatch upserts through the commit protocol") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // The production ingest shape: micro-batches upsert into the versioned
    // KV store; every batch is one CAS-committed generation, so a reader
    // at any moment sees a complete committed version, never a torn batch.
    val root = java.nio.file.Files
      .createTempDirectory("graft-stream-pot").toString
    val pot = graft.kv.PotTable(spark, root, "ingest")
    val mem = MemoryStream[(String, Int)]
    val q = mem.toDF().toDF("key", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        pot.upsert(batch); ()
      }
      .start()
    try {
      mem.addData(("a", 1), ("b", 2))
      q.processAllAvailable()
      assert(pot.generation === 1L)
      mem.addData(("a", 10), ("c", 3)) // LWW on replayed key
      q.processAllAvailable()
      assert(pot.generation === 2L)
      assert(pot.get().select("key", "v").as[(String, Int)].collect().toMap
        === Map("a" -> 10, "b" -> 2, "c" -> 3))
      // time travel still works underneath the stream: gen 1 is intact
      assert(pot.getAt(1L).select("key", "v").as[(String, Int)].collect().toMap
        === Map("a" -> 1, "b" -> 2))
    } finally q.stop()
  }

  private def counterState(pot: graft.kv.PotTable) = {
    import spark.implicits._
    (pot.get().select("key", "n").as[(String, Long)].collect().toMap,
      pot.generation, pot.txnVersion("st12"))
  }

  test("st12 fence: a replayed batch id leaves the counts and the generation unchanged") {
    import spark.implicits._
    Scratch.withDir("graft-st12-fence") { root =>
      val pot = graft.kv.PotTable(spark, root, "counts")
      val apply = graft.streaming.StreamingQueries.applyCounts(pot, "st12") _
      val b0 = Seq(1L, 1L, 2L).toDF("user_id")
      val b1 = Seq(2L, 3L).toDF("user_id")
      apply(b0, 0L)
      apply(b1, 1L)
      val want = (Map("1" -> 2L, "2" -> 2L, "3" -> 1L), 2L, Some(1L))
      assert(counterState(pot) === want)
      apply(b1, 1L) // checkpoint recovery redelivers the last batch
      apply(b0, 0L)
      assert(counterState(pot) === want)
    }
  }

  test("st12 fence: a batch whose commit landed before its caller died is not re-applied on restart") {
    import spark.implicits._
    Scratch.withDir("graft-st12-crash") { root =>
      val src = s"$root/src"
      Seq(Seq(1L, 1L, 2L), Seq(2L, 3L)).zipWithIndex.foreach { case (ids, k) =>
        ids.toDF("user_id").coalesce(1).write.parquet(s"$root/w$k")
        val part = new java.io.File(s"$root/w$k").listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val f = new java.io.File(s"$src/b$k.parquet")
        f.getParentFile.mkdirs()
        java.nio.file.Files.move(part.toPath, f.toPath)
        f.setLastModified(10000L * (k + 1)) // batch order = file order
      }
      val pot = graft.kv.PotTable(spark, root, "counts")
      val died = new java.util.concurrent.atomic.AtomicBoolean(false)
      def run(): Unit = {
        val q = spark.readStream.schema("user_id BIGINT")
          .option("maxFilesPerTrigger", "1").parquet(src)
          .writeStream.option("checkpointLocation", s"$root/chk")
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
            graft.streaming.StreamingQueries.applyCounts(pot, "st12")(batch, id)
            // the commit of batch 1 has landed; the sink dies before the
            // stream records the batch as done
            if (id == 1L && !died.getAndSet(true))
              throw new IllegalStateException("sink died after its commit")
          }
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](run())
      val want = (Map("1" -> 2L, "2" -> 2L, "3" -> 1L), 2L, Some(1L))
      assert(counterState(pot) === want)
      run() // restart: the stream re-runs batch 1 from its offset log
      assert(counterState(pot) === want)
    }
  }

  test("st23 packing stream: open bin carries across micro-batches, " +
    "closes on overflow, trailing bin never emits (r16)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    assert(graft.operators.TextAnalysis.PackBudget === 256)
    val mem = MemoryStream[graft.streaming.PackDoc]
    val q = graft.streaming.StreamingQueries.packStream(mem.toDS())
      .writeStream.format("memory").queryName("pack_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1 (one shard, out-of-order delivery): sorted = 100, 120
      // -> both fit bin 0 (fill 220), nothing closed yet
      mem.addData(
        graft.streaming.PackDoc(8, 0, 120),
        graft.streaming.PackDoc(0, 0, 100))
      q.processAllAvailable()
      assert(spark.table("pack_out").count() === 0L)
      // batch 2: 50 overflows (220+50>256) -> bin 0 CLOSES with batch-1
      // state intact; 300 oversize overflows again -> bin 1 closes too;
      // bin 2 (the oversize doc) stays open and must NOT emit
      mem.addData(
        graft.streaming.PackDoc(16, 0, 50),
        graft.streaming.PackDoc(24, 0, 300))
      q.processAllAvailable()
      val rows = spark.table("pack_out")
        .select("shard", "bin", "n_docs", "fill_tokens", "first_doc", "last_doc")
        .as[(Long, Int, Long, Long, Long, Long)].collect().toSeq.sorted
      assert(rows === Seq(
        (0L, 0, 2L, 220L, 0L, 8L),
        (0L, 1, 1L, 50L, 16L, 16L)), rows.toString)
    } finally q.stop()
  }

  test("st24 transformWithState: ValueState crosses micro-batches, " +
    "milestones emit exactly at the crossing row (r16)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[graft.streaming.TwsEvent]
    val q = mem.toDS().groupByKey(_.user_id)
      .transformWithState(new graft.streaming.MilestoneProcessor(3L),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
      .writeStream.format("memory").queryName("tws_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: two events for user 1 (delivered out of order) — count
      // 2 < 3, nothing emits, state must persist
      mem.addData(
        graft.streaming.TwsEvent(1L, 20L, 101L, 2L),
        graft.streaming.TwsEvent(1L, 10L, 100L, 1L))
      q.processAllAvailable()
      assert(spark.table("tws_out").count() === 0L)
      // batch 2: the third event crosses the milestone — cum_k must
      // include BATCH-1 state (1+2) + this row's 4 = 7
      mem.addData(graft.streaming.TwsEvent(1L, 30L, 102L, 4L))
      q.processAllAvailable()
      val rows = spark.table("tws_out")
        .as[graft.streaming.TwsMilestone].collect().toSeq
      assert(rows === Seq(
        graft.streaming.TwsMilestone(1L, 3L, 102L, 7L)), rows.toString)
    } finally {
      q.stop()
      prev match {
        case Some(v) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
