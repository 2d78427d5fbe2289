package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up, run one workload as a closed loop
  * (one client, one operation at a time), check its outputs, and write the
  * run's metrics, metadata and (when traced) spans as JSON files.
  *
  * `perfbench/run.py` builds the classpath, gives each run its own
  * `java.io.tmpdir`, sends Spark's logs to a file and prints the result.
  * Options: `--workload W --seed N --seconds S --trace 0|1 --data DIR
  * --out FILE --trace-out FILE --expected FILE --warm-data DIR [--smoke]`.
  */
object Main {
  val Cores = 4
  val SetupRepeats = 3

  final case class Args(workload: String, seed: Long, seconds: Double,
                        traced: Boolean, dataDir: String, out: String,
                        traceOut: String, expectedFile: String, warmData: String,
                        smoke: Boolean)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("out"), need("trace-out"),
      need("expected"), need("warm-data"), argv.contains("--smoke"))
  }

  /** A fresh local session. Called once per set-up repetition; the timed
    * phase derives a new session per pass from the last one.
    */
  def startSession(): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        sys.props("java.io.tmpdir") + "/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val workload: Workload = a.workload match {
      case "etl_refresh" => new EtlWorkload(a.smoke)
      case name => QueryWorkload.named(name)
    }
    val trace = new Trace(a.traced)
    val setupTimes = (1 to SetupRepeats).map { _ =>
      val t0 = System.nanoTime()
      val spark = startSession()
      workload.setup(spark, a)
      (System.nanoTime() - t0) / 1e9
    }
    val spark = SparkSession.active
    val w0 = System.nanoTime()
    workload.warmUp(spark, a)
    val warmUpSeconds = (System.nanoTime() - w0) / 1e9
    trace.attach(spark)
    val result = workload.run(spark, a, trace)
    trace.detach(spark)
    val meta = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "traced" -> a.traced, "smoke" -> a.smoke, "cores" -> Cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
      "spark" -> spark.version, "data_dir" -> a.dataDir,
      "setup_samples_s" -> setupTimes, "warmup_s" -> warmUpSeconds,
      "cpu_probe_s" -> Probes.cpu(), "io_probe_s" -> Probes.io(spark),
    ) ++ workload.meta
    val out = Map(
      "attempted" -> result.attempted, "failed" -> result.failed,
      "correct" -> result.problems.isEmpty, "problems" -> result.problems.take(20),
      "end_to_end" -> (result.endToEnd + ("setup_s" -> Stats.median(setupTimes))),
      "notes" -> result.notes, "per_layer" -> trace.layerMetrics(result),
      "retained_mb" -> Trace.retainedMb(spark), "meta" -> meta)
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    if (a.traced) json.writeValue(new java.io.File(a.traceOut), trace.dump())
    json.writeValue(new java.io.File(a.out), out)
    spark.stop()
  }
}

/** What every workload reports back to [[Main]]. */
final case class RunResult(
    attempted: Int, failed: Int, problems: Seq[String],
    endToEnd: Map[String, Double], notes: Map[String, Any],
    layers: Map[String, Double])

trait Workload {
  /** Untimed preparation, repeated by [[Main]] and reported as `setup_s`. */
  def setup(spark: SparkSession, a: Main.Args): Unit
  /** Untimed, once per run after set-up: the workload's operations on tiny
    * inputs, so class loading, JIT and code generation of a fresh JVM are
    * not charged to the first timed operations. Session memos it fills
    * belong to its own session and stay out of the timed passes.
    */
  def warmUp(spark: SparkSession, a: Main.Args): Unit
  /** The timed closed loop plus the output checks (outside the timing). */
  def run(spark: SparkSession, a: Main.Args, trace: Trace): RunResult
  def meta: Map[String, Any]
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; 0 for an empty sample (a run whose
    * operations all failed, which `failed` already reports).
    */
  def quantile(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) 0.0 else {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  /** Tail latency with its percentile: the highest whole percentile with at
    * least 10 samples above it. Below 20 samples that percentile would sit
    * at or under the median, so the maximum (percentile 100) is reported.
    */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val n = xs.size
    if (n < 20) (100, xs.maxOption.getOrElse(0.0))
    else {
      val p = math.floor(100.0 * (n - 10) / n).toInt
      (p, quantile(xs, p / 100.0))
    }
  }
}

/** The calibration probes of `graft.Bench` (a single-thread splitmix64
  * loop; a parquet scan through the noop sink; each the minimum of three),
  * shrunk to 1/20 and 1/200 of its sizes so a run can afford them. Run
  * after the timed phase; reported as metadata, never as metrics.
  */
object Probes {
  def cpu(): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < 50000000L) {
      x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL
      x ^= x >>> 29; i += 1L
    }
    if (x == 42L) System.err.println("")
    (System.nanoTime() - t0) / 1e9
  }.min

  def io(spark: SparkSession): Double = {
    val dir = sys.props("java.io.tmpdir") + "/perfbench-ioprobe"
    spark.range(0, 100000L, 1, 4)
      .selectExpr("id", "id % 97 AS k", "md5(cast(id AS string)) AS s")
      .write.mode("overwrite").parquet(dir)
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    (1 to 3).map(_ => once()).min
  }
}
