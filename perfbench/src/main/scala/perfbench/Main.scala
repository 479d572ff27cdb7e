package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for the run record (numbers, strings, nested objects). */
object Json {
  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + esc(s) + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => "\"" + esc(other.toString) + "\""
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}

object Stats {
  /** Percentile `p` (0-100) by the Harrell-Davis estimator: the mean of all
    * order statistics, weighted by the Beta(p(n+1), (1-p)(n+1)) density
    * over each one's share of [0, 1]. The samples here mix kinds of
    * operation or query with quite different times; where the plain order
    * statistic jumps from one kind to the next as a single sample moves,
    * this estimate moves smoothly.
    */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else if (xs.size == 1 || p <= 0) xs.min
    else if (p >= 100) xs.max
    else {
      val s = xs.sorted.toArray
      val n = s.length
      val a = p / 100.0 * (n + 1)
      val b = (1 - p / 100.0) * (n + 1)
      // midpoint rule, 200 steps per order statistic
      val steps = 200L * n
      val w = new Array[Double](n)
      var i = 0L
      while (i < steps) {
        val x = (i + 0.5) / steps
        w((i * n / steps).toInt) += math.exp((a - 1) * math.log(x) + (b - 1) * math.log1p(-x))
        i += 1
      }
      s.indices.map(j => s(j) * w(j)).sum / w.sum
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** What a workload hands back: end-to-end numbers, per-layer numbers (only
  * in a traced run), and the operation tally behind `fail_share`.
  */
final case class Outcome(attempted: Long, failed: Long,
    endToEnd: Map[String, Double], perLayer: Map[String, Double],
    medianMs: Map[String, Double], notes: Seq[String])

/** Entry point that `run.py` launches:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <dataDir>`.
  *
  * Everything the run creates lives under `workDir` (the JVM's tmpdir,
  * Spark's local dir, the kv root, query outputs); `run.py` deletes it.
  * The result goes to `workDir/result.json` and the spans of a traced run
  * to `workDir/spans.jsonl`.
  */
object Main {
  /** Exit explicitly: a thread Spark leaves behind must not keep the JVM
    * (and so the run) alive past its result.
    */
  def main(args: Array[String]): Unit = {
    val code = try { run(args); 0 } catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workDir, dataDir) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cpus = Runtime.getRuntime.availableProcessors.toString
    // Same session settings as graft.Bench, so the numbers describe the
    // engine as its own timing main runs it.
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
    if (trace)
      builder.config("spark.hadoop.fs.file.impl", Tracer.installCountingFs())
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, trace)
    val outcome = workload match {
      case "kv-mixed" => new KvMixed(spark, tracer, seed, seconds, s"$workDir/kv").run()
      case "olap" => new Olap(spark, tracer, seed, seconds, workDir, dataDir).run()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    tracer.write(s"$workDir/spans.jsonl")
    val result = Json.obj(Seq(
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "end_to_end" -> outcome.endToEnd,
      "per_layer" -> outcome.perLayer,
      "median_ms" -> outcome.medianMs,
      "notes" -> outcome.notes,
      "peak_rss_mb" -> peakRssMb()))
    Files.write(Paths.get(s"$workDir/result.json"), result.getBytes("UTF-8"))
    spark.stop()
  }

  /** Setup time as the workloads report it: JVM start to now. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  /** The process's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
