package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.kv.{BucketedPotTable, PotTable}

/** One stored document: an `orders`-shaped row keyed by its order key.
  * Every field is a pure function of (seed, key, version), so the
  * in-memory model stores only the version and can still check a whole
  * document.
  */
final case class Doc(key: String, v: Long, custkey: Long, status: String,
    totalprice: Double, orderdate: String, priority: String) {
  /** Size of the document as a user submits it (compact JSON). */
  def userBytes: Int = Json.obj(Seq("key" -> key, "v" -> v, "custkey" -> custkey,
    "status" -> status, "totalprice" -> totalprice, "orderdate" -> orderdate,
    "priority" -> priority)).length
}

object Doc {
  private val statuses = Array("F", "O", "P")
  private val priorities =
    Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** SplitMix64 finalizer. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def of(seed: Long, k: Long, v: Long): Doc = {
    val h = mix(mix(seed) ^ mix(k * 1000003L + v))
    def field(shift: Int, n: Int): Int = java.lang.Math.floorMod(h >>> shift, n.toLong).toInt
    val day = field(3, 2400)
    Doc(k.toString, v, field(12, 15000), statuses(field(26, 3)),
      1000.0 + field(30, 49900000) / 100.0,
      java.time.LocalDate.of(1995, 1, 1).plusDays(day.toLong).toString,
      priorities(field(58, 5)))
  }
}

/** One timed kv operation: its kind, wall time, whether its output check
  * passed, and whether it ran while the tracer was active.
  */
final case class OpSample(kind: String, ms: Double, ok: Boolean, active: Boolean)

/** kv-mixed: one client, closed loop, over a 1k-doc pot, a 150k-doc pot
  * and a 16-bucket pot holding another 150k docs. Operations come in
  * blocks of 20 with a fixed mix (8 get, 4 point get, 5 upsert, 2 remove,
  * 1 owner conditional upsert), shuffled by the seed; the seed also picks
  * every key. There is no vacuum, so generation chains grow through the
  * run. Every read is checked against an in-memory model of each pot.
  */
final class KvMixed(spark: SparkSession, tracer: Tracer, seed: Long,
    seconds: Double, root: String) {
  import spark.implicits._

  private val BigDocs = 150000
  private val BatchDocs = 150
  private val RemoveKeys = 20
  private val LeaseMs = 60000L

  /** One pot and its model: live key -> document version. */
  private final class Pot(val name: String, val size: Int, val bucketed: Boolean) {
    val plain: PotTable = PotTable(spark, root, name)
    val buckets: BucketedPotTable = BucketedPotTable(spark, root, name, 16)
    val model = mutable.HashMap.empty[Long, Long]
    var gen = 0L
    def generation: Long = if (bucketed) buckets.generation else plain.generation
    def get(): DataFrame = if (bucketed) buckets.get() else plain.get()
    def upsert(df: DataFrame): Long = if (bucketed) buckets.upsert(df) else plain.upsert(df)
    def remove(keys: Seq[String]): Long =
      if (bucketed) buckets.remove(keys) else plain.remove(keys)
  }

  private val small = new Pot("small", 1000, bucketed = false)
  private val big = new Pot("big", BigDocs, bucketed = false)
  private val bucketed = new Pot("bucketed", BigDocs, bucketed = true)

  /** The fixed block: (kind, pot) pairs, shuffled per block. */
  private val block: Seq[(String, Pot)] =
    Seq(small, big, small, big, small, big, bucketed, bucketed).map("get" -> _) ++
      Seq.fill(4)("point_get" -> bucketed) ++
      Seq(small, big, small, big, bucketed).map("upsert" -> _) ++
      Seq(big, bucketed).map("remove" -> _) ++
      Seq("cond_upsert" -> small)

  private var nextVersion = 1L
  private var opSeq = 0L
  private var commits = 0L
  /** Bytes the user submitted, per write operation id. */
  private val userBytes = mutable.HashMap.empty[Long, Long]
  private val failures = mutable.ArrayBuffer.empty[String]
  /** Wall time of the last operation's engine call. */
  private var lastMs = 0.0

  private def batch(rng: scala.util.Random, p: Pot, n: Int): Seq[Long] = {
    val span = (p.size * 1.1).toLong
    Iterator.continually(java.lang.Math.floorMod(rng.nextLong(), span)).distinct.take(n).toSeq
  }

  private def docs(keys: Seq[Long], v: Long): Seq[Doc] = keys.map(Doc.of(seed, _, v))

  /** Run one operation and check its output; false iff the check failed.
    * Only the engine call and the materialization of its result are timed
    * (and traced): choosing keys and checking against the model are not.
    */
  private def op(kind: String, p: Pot, rng: scala.util.Random, id: Long): Boolean = {
    def timed[T](body: => T): T = {
      val t0 = System.nanoTime()
      try tracer.span(s"$kind:${p.name}", "kv", id)(body)
      finally lastMs = (System.nanoTime() - t0) / 1e6
    }
    def fail(msg: String) = { failures += s"$kind ${p.name}: $msg"; false }
    def committed(gen: Long, apply: => Unit): Boolean = {
      commits += 1
      if (gen != p.gen + 1) return fail(s"generation $gen after ${p.gen}")
      p.gen = gen
      apply
      true
    }
    kind match {
      case "get" =>
        val r = timed(p.get().agg(count(lit(1)), coalesce(sum($"v"), lit(0L)),
          coalesce(sum($"key".cast("long")), lit(0L))).head())
        val want = (p.model.size.toLong, p.model.values.sum, p.model.keys.sum)
        val got = (r.getLong(0), r.getLong(1), r.getLong(2))
        got == want || fail(s"count/sum(v)/sum(key) $got, model $want")
      case "point_get" =>
        val live = p.model.keysIterator.drop(rng.nextInt(p.model.size)).next()
        val k = if (rng.nextInt(5) == 0) batch(rng, p, 1).head else live
        val rows = timed(p.buckets.get(k.toString).collect())
        p.model.get(k) match {
          case None => rows.isEmpty || fail(s"key $k removed but ${rows.length} rows")
          case Some(v) =>
            val want = Doc.of(seed, k, v)
            rows.length == 1 && {
              val r = rows.head
              Doc(r.getAs[String]("key"), r.getAs[Long]("v"), r.getAs[Long]("custkey"),
                r.getAs[String]("status"), r.getAs[Double]("totalprice"),
                r.getAs[String]("orderdate"), r.getAs[String]("priority")) == want
            } || fail(s"key $k: ${rows.mkString(";")} != $want")
        }
      case "upsert" | "cond_upsert" =>
        val v = nextVersion; nextVersion += 1
        val keys = batch(rng, p, BatchDocs)
        val ds = docs(keys, v)
        userBytes(id) = ds.map(_.userBytes.toLong).sum
        val gen = timed {
          val df = ds.toDF()
          if (kind == "upsert") p.upsert(df)
          else p.plain.conditionalUpsert(df, LeaseMs, callerGeneration = p.gen)
        }
        committed(gen, keys.foreach(p.model(_) = v))
      case "remove" =>
        val keys = batch(rng, p, RemoveKeys)
        userBytes(id) = keys.map(_.toString.length.toLong).sum
        committed(timed(p.remove(keys.map(_.toString))), keys.foreach(p.model.remove))
    }
  }

  /** Run `ops` in a shuffled order; spans are recorded when the tracer is
    * active.
    */
  private def runOps(ops: Seq[(String, Pot)], rng: scala.util.Random,
      out: mutable.Buffer[OpSample]): Unit =
    rng.shuffle(ops).foreach { case (kind, p) =>
      opSeq += 1
      val id = opSeq
      if (tracer.isActive) tracer.span("generation", "kvhead", id)(p.generation)
      lastMs = 0.0
      val ok =
        // a single client never races itself, so a CommitConflict fails too
        try op(kind, p, rng, id)
        catch {
          case e: Exception =>
            failures += s"$kind ${p.name}: ${e.getClass.getSimpleName} ${e.getMessage}"; false
        }
      out += OpSample(kind, lastMs, ok, tracer.isActive)
    }

  private def populate(p: Pot): Unit = {
    val s = seed
    val df = spark.range(p.size).as[Long].map(k => Doc.of(s, k, 0L)).toDF()
    p.gen = p.upsert(df)
    (0L until p.size).foreach(p.model(_) = 0L)
  }

  private def diskBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(diskBytes).sum else f.length

  def run(): Outcome = {
    // The kv layer records commit-lock times into the installed instance
    // in every block; its query listener runs only in traced blocks.
    val metrics = if (tracer.on) Some(graft.Metrics.install(spark)) else None
    metrics.foreach(tracer.attach)
    val pots = Seq(small, big, bucketed)
    val tLoad = System.nanoTime()
    pots.foreach(populate)
    val loadS = (System.nanoTime() - tLoad) / 1e9
    // Warm-up: each distinct (kind, pot) of the block once, untimed and
    // checked like the rest. Disk use is taken here, after a fixed number
    // of writes, so it does not depend on how many operations the window
    // completes.
    val tWarm = System.nanoTime()
    val warm = mutable.ArrayBuffer.empty[OpSample]
    runOps(block.distinct, new scala.util.Random(seed ^ 0x5eed), warm)
    val warmS = (System.nanoTime() - tWarm) / 1e9
    val liveBytes = pots.map(p => p.model.map { case (k, v) =>
      Doc.of(seed, k, v).userBytes.toLong }.sum).sum
    val spaceAmp = diskBytes(new java.io.File(root)).toDouble / liveBytes
    val setupS = Main.sinceJvmStart()

    val lock0 = metrics.map(_.snapshot)
    val commits0 = commits
    val rng = new scala.util.Random(seed)
    val samples = mutable.ArrayBuffer.empty[OpSample]
    val t0 = System.nanoTime()
    var blockNo = 0
    // At least 100 operations, so that 10 samples lie beyond p90.
    while ((System.nanoTime() - t0) / 1e9 < seconds || samples.size < 100) {
      tracer.setActive(blockNo % 2 == 1)
      runOps(block, rng, samples)
      blockNo += 1
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    tracer.setActive(false)

    def p50(kinds: Set[String]) =
      Stats.median(samples.filter(s => s.ok && kinds(s.kind)).map(_.ms).toSeq)
    val all = samples.map(_.ms).toSeq
    val endToEnd = Map(
      "setup_s" -> setupS,
      "ops_per_s" -> samples.size / elapsed,
      "latency_p50_ms" -> Stats.median(all),
      "latency_p90_ms" -> Stats.pct(all, 90),
      "read_p50_ms" -> p50(Set("get", "point_get")),
      "write_p50_ms" -> p50(Set("upsert", "remove", "cond_upsert")))

    val perLayer =
      if (!tracer.on) Map.empty[String, Double]
      else {
        val kv = tracer.spansIn("kv")
        val writes = kv.filter(s => userBytes.contains(s.op))
        val lock = metrics.get.snapshot
        def lockDelta(k: String) = (lock(k) - lock0.get(k)).toDouble
        def kindP50(k: String) = Stats.median(kv.filter(_.name.startsWith(k + ":")).map(_.wallMs))
        Tracer.meanCounters(kv) ++
          Tracer.overhead(samples.toSeq.map(s => (s.kind, s.active, s.ms))) ++ Map(
          "kv.upsert_ms.p50" -> kindP50("upsert"),
          "kv.get_ms.p50" -> kindP50("get"),
          "kv.point_get_ms.p50" -> kindP50("point_get"),
          "kv.remove_ms.p50" -> kindP50("remove"),
          "kv.cond_upsert_ms.p50" -> kindP50("cond_upsert"),
          "kv.generation_ms.p50" -> Stats.median(tracer.spansIn("kvhead").map(_.wallMs)),
          "kv.commit_lock_ms.mean" ->
            lockDelta("lock_sum_ms") / math.max(1.0, lockDelta("lock_count")),
          "kv.commits" -> (commits - commits0).toDouble,
          "kv.generations_max" -> pots.map(_.generation).max.toDouble,
          "kv.write_amp" -> writes.map(_.counters("fs.bytes_written")).sum /
            math.max(1.0, writes.map(s => userBytes.getOrElse(s.op, 0L)).sum.toDouble),
          "kv.space_amp" -> spaceAmp,
          "setup.load_s" -> loadS,
          "setup.warm_s" -> warmS)
      }
    // warm-up operations are checked too, so they count as attempted
    Outcome((warm.size + samples.size).toLong,
      (warm.count(!_.ok) + samples.count(!_.ok)).toLong, endToEnd, perLayer,
      samples.groupBy(_.kind).map { case (k, xs) => k -> Stats.median(xs.map(_.ms).toSeq) },
      failures.take(20).toSeq)
  }
}
