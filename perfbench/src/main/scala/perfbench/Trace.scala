package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Local filesystem that counts the calls the engine makes into it while
  * the tracer is active. The traced run installs it as `fs.file.impl`; the
  * untraced run keeps Hadoop's own `LocalFileSystem`. While the tracer is
  * idle it counts nothing, so idle stretches of a traced run pay only for
  * the flag check.
  */
final class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (counting) {
      opens.increment()
      bytesOpened.add(getRawFileSystem.getFileStatus(f).getLen)
    }
    super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    if (counting) creates.increment()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    if (counting) creates.increment()
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }
  override def listStatus(f: Path) = { if (counting) lists.increment(); super.listStatus(f) }
  override def rename(src: Path, dst: Path): Boolean = {
    if (counting) mutations.increment(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    if (counting) mutations.increment(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    if (counting) mutations.increment(); super.mkdirs(f, permission)
  }
  override def getFileStatus(f: Path) = { if (counting) stats.increment(); super.getFileStatus(f) }
}

object CountingFileSystem {
  val opens, creates, lists, mutations, stats, bytesOpened = new LongAdder
  /** Set by the tracer: true while it is active. */
  @volatile var counting = false

  /** Cumulative counters. Bytes read are the lengths of the files opened:
    * parquet's vectored reads bypass Hadoop's byte counters, so those
    * undercount. Bytes written come from Hadoop's per-scheme statistics,
    * which the raw local output streams maintain.
    */
  def snapshot(): Map[String, Double] = {
    val file = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Map(
      "fs.read_ops" -> opens.sum().toDouble,
      "fs.write_ops" -> (creates.sum() + mutations.sum()).toDouble,
      "fs.list_ops" -> lists.sum().toDouble,
      "fs.stat_ops" -> stats.sum().toDouble,
      "fs.bytes_read" -> bytesOpened.sum().toDouble,
      "fs.bytes_written" -> file.map(_.getBytesWritten).sum.toDouble)
  }
}

/** Spark execution and Catalyst planning events, taken from listeners the
  * benchmark registers. Times are epoch milliseconds; events are tied to
  * operations by time, which is exact because each workload issues one
  * operation at a time.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder.Task
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  val jobs = new ConcurrentLinkedQueue[(Long, Long)]()
  val stages = new ConcurrentLinkedQueue[Long]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  /** (phase, start, end) for analysis/optimization/planning. */
  val phases = new ConcurrentLinkedQueue[(String, Long, Long)]()
  /** Start time of each completed Spark query. */
  val queries = new ConcurrentLinkedQueue[Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.put(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach(s => jobs.add((s.longValue, e.time)))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(e.stageInfo.submissionTime.getOrElse(0L))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.taskInfo.launchTime, m.executorRunTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    ph.foreach { case (name, s) => phases.add((name, s.startTimeMs, s.endTimeMs)) }
    queries.add(if (ph.isEmpty) 0L else ph.values.map(_.startTimeMs).min)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

object Recorder {
  final case class Task(launch: Long, runMs: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long)
}

/** One traced call: its span plus the counters recorded around it. */
final case class Span(id: Int, parent: Int, op: Long, name: String,
    layer: String, startMs: Long, endMs: Long, wallMs: Double,
    counters: Map[String, Double])

/** Spans and per-span counters, kept in memory and written when the run
  * ends. A tracer that is off records nothing and registers nothing. A
  * traced run switches it between active and idle stretches of the same
  * workload, so the difference between the two measures the tracing
  * overhead.
  */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val rec = new Recorder
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs: Double = gcBeans.map(_.getCollectionTime.max(0L)).sum.toDouble
  private def counters(): Map[String, Double] =
    CountingFileSystem.snapshot() + ("exec.gc_ms" -> gcMs)

  private var active = false
  private var nextId = 0
  private val attached = mutable.ArrayBuffer.empty[QueryExecutionListener]

  /** Register `l` with the session only while the tracer is active, like
    * the tracer's own listeners.
    */
  def attach(l: QueryExecutionListener): Unit = {
    spark.listenerManager.unregister(l)
    if (active) spark.listenerManager.register(l)
    attached += l
  }

  /** Register (or, after draining, unregister) the listeners and switch
    * FS counting on or off; spans are recorded only while active. The
    * idle stretches of a traced run are therefore the untraced program
    * plus a flag check per FS call.
    */
  def setActive(a: Boolean): Unit = if (on && a != active) {
    if (a) {
      spark.sparkContext.addSparkListener(rec)
      (rec +: attached).foreach(spark.listenerManager.register)
    } else {
      drain()
      spark.sparkContext.removeSparkListener(rec)
      (rec +: attached).foreach(spark.listenerManager.unregister)
    }
    CountingFileSystem.counting = a
    active = a
  }
  def isActive: Boolean = active

  /** Run `body` as a span named `name` in `layer`; `op` ties the spans
    * of one operation together.
    */
  def span[T](name: String, layer: String, op: Long)(body: => T): T =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val c0 = counters()
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val wall = (System.nanoTime() - t0) / 1e6
        val endMs = System.currentTimeMillis()
        val c1 = counters()
        stack.pop()
        spans += Span(id, parent, op, name, layer, startMs, endMs, wall,
          c1.map { case (k, v) => k -> (v - c0(k)) })
      }
    }

  /** Wait until Spark has delivered every listener event. */
  def drain(): Unit = if (active) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Spans in `layer` with their Spark execution and planning counters
    * filled in from the listener events that fall inside them.
    */
  def spansIn(layer: String): Seq[Span] = enriched().filter(_.layer == layer)

  private def enriched(): Seq[Span] = {
    setActive(false)
    val jobs = rec.jobs.asScala.toSeq
    val stages = rec.stages.asScala.toSeq
    val tasks = rec.tasks.asScala.toSeq
    val phases = rec.phases.asScala.toSeq
    val queries = rec.queries.asScala.toSeq
    spans.toSeq.map { s =>
      def in(t: Long) = t >= s.startMs && t <= s.endMs
      def clip(iv: Seq[(Long, Long)]) = iv.filter(p => in(p._1))
        .map { case (a, b) => (a, math.min(b, s.endMs)) }
      val jobIv = clip(jobs)
      val planIv = clip(phases.map(p => (p._2, p._3)))
      val ts = tasks.filter(t => in(t.launch))
      val execU = Tracer.unionMs(jobIv)
      val covered = Tracer.unionMs(jobIv ++ planIv)
      def phase(n: String) = phases.filter(p => p._1 == n && in(p._2))
        .map(p => (p._3 - p._2).toDouble).sum
      s.copy(counters = s.counters ++ Map(
        "exec.jobs" -> jobIv.size.toDouble,
        "exec.stages" -> stages.count(in).toDouble,
        "exec.tasks" -> ts.size.toDouble,
        "exec.task_ms" -> ts.map(_.runMs).sum.toDouble,
        "exec.job_ms" -> jobIv.map(p => p._2 - p._1).sum.toDouble,
        "exec.driver_gap_ms" -> math.max(0.0, s.wallMs - execU),
        "exec.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
        "exec.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
        "exec.spill_bytes" -> ts.map(_.spill).sum.toDouble,
        "plan.analysis_ms" -> phase("analysis"),
        "plan.optimization_ms" -> phase("optimization"),
        "plan.planning_ms" -> phase("planning"),
        "plan.queries" -> queries.count(in).toDouble,
        "self.exec_ms" -> execU,
        "self.plan_ms" -> (covered - execU),
        s"self.${s.layer}_ms" -> math.max(0.0, s.wallMs - covered)))
    }
  }

  /** Write every span as one JSON object per line. */
  def write(path: String): Unit = if (on) {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try enriched().foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "wall_ms" -> s.wallMs,
        "counters" -> s.counters)))
    } finally w.close()
  }
}

object Tracer {
  /** Mean of each counter over the spans: the per-operation figure. */
  def meanCounters(spans: Seq[Span]): Map[String, Double] =
    spans.flatMap(_.counters.keys).distinct
      .map(k => k -> Stats.mean(spans.map(_.counters.getOrElse(k, 0.0)))).toMap

  /** Tracing overhead from (name, traced?, ms) samples of blocks or passes
    * that hold the same operations traced and idle. Each operation name
    * compares its median time traced with its median time idle; the share
    * is the median of those relative differences over the names, so that
    * one slow query does not decide it, and the ms figure applies it to the
    * mean idle operation. An idle stretch runs the untraced program but for
    * one flag check per FS call, so this is traced minus untraced.
    */
  def overhead(samples: Seq[(String, Boolean, Double)]): Map[String, Double] = {
    val rel = samples.groupBy(_._1).values.toSeq.flatMap { xs =>
      val (on, off) = xs.partition(_._2)
      val idle = Stats.median(off.map(_._3))
      if (on.isEmpty || idle <= 0) None else Some(Stats.median(on.map(_._3)) / idle - 1)
    }
    val share = Stats.median(rel)
    Map("trace.overhead_ms" -> share * Stats.mean(samples.filterNot(_._2).map(_._3)),
      "trace.overhead_share" -> share)
  }

  /** Length in ms of the union of closed intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { total += b - math.max(a, end); end = b }
    }
    total.toDouble
  }

  /** Make the counting filesystem the cached `file://` instance, so code
    * that builds its own Hadoop configuration gets it too; returns its
    * class name for the session's `fs.file.impl`.
    */
  def installCountingFs(): String = {
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.file.impl", classOf[CountingFileSystem].getName)
    FileSystem.closeAll()
    FileSystem.get(java.net.URI.create("file:///"), conf)
    classOf[CountingFileSystem].getName
  }
}
