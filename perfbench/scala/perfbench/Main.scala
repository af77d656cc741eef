package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/**
 * The benchmark's JVM side: one workload, one seed, one closed loop with a
 * single caller. Started by `perfbench/run.py`, which builds the classes.
 *
 *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
 *                  --cores C --work DIR
 *
 * A run sets up (session start, then input generation and writes, done
 * [[SetupReps]] times), warms up for the workload's count of operations
 * (at most 3S seconds), then measures for S seconds
 * and at least four operations. With `--trace 1` it alternates untraced
 * and traced operations for S seconds (at least six), runs the layer
 * probes and writes one trace file. The last stdout line is the result
 * JSON.
 */
object Main {

  val SetupReps = 3

  /** Per-layer metrics and their units, as declared in BENCHMARK.json. A
   * workload that never calls a layer reports it as 0. */
  val Layers: Seq[(String, String)] = Seq(
    "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.cpu_util" -> "ratio", "spark.gc_ms_per_op" -> "ms",
    "spark.shuffle_write_bytes_per_op" -> "bytes",
    "spark.shuffle_read_bytes_per_op" -> "bytes",
    "spark.spill_bytes_per_op" -> "bytes", "engine.plan_ms_per_op" -> "ms",
    "trace_overhead_frac" -> "ratio",
    "sources.scan_s" -> "s", "functions.sha256_self_s" -> "s",
    "compile.rules_self_s" -> "s", "compile.error_string_self_s" -> "s",
    "engine.violation_rows_s" -> "s", "compile.compile_ms" -> "ms",
    "quality.suite_s" -> "s", "quality.uniqueness_s" -> "s", "quality.uniqueness_shuffle_bytes" -> "bytes",
    "quality.uniqueness_task_skew" -> "ratio", "quality.referential_s" -> "s",
    "quality.column_stats_s" -> "s", "quality.drift_s" -> "s",
    "quality.suggest_s" -> "s",
    "run.ingest_rows_per_s" -> "rows/s", "spark.jobs_per_delta" -> "count",
    "sources.commit_s" -> "s", "sources.changes_ms" -> "ms",
    "run.incremental_s" -> "s", "run.resume_ms" -> "ms",
    "run.resume_jobs" -> "count", "run.bytes_written" -> "bytes",
    "run.files_written" -> "count", "run.write_amp" -> "ratio",
    "model.parse_ms" -> "ms", "sources.read_csv_ms" -> "ms")

  val Workloads = Seq("validate_scan", "manifest_cli")
  val ValidateRows = 150000L

  def workload(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "validate_scan" => new ValidateScan(spark, seed, rows = ValidateRows, files = 16)
    case "manifest_cli" => new ManifestCli(spark, seed, manifests = 100)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val training = a.get("train").contains("1")
    val cores = a("cores").toInt
    val work = Path.of(a("work")).toAbsolutePath
    val runDir =
      if (training) work.resolve("train")
      else work.resolve(s"${a("workload")}-s${a("seed")}-t${a("trace")}")
    delete(runDir)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ok =
      try {
        if (training) train(spark, runDir)
        else {
          val name = a("workload")
          val seed = a("seed").toLong
          run(spark, workload(name, spark, seed), name, seed, a("seconds").toDouble,
            a("trace") == "1", cores, sessionS, runDir, work)
        }
        true
      } catch {
        case e: Throwable => e.printStackTrace(); false
      } finally {
        spark.stop()
        delete(runDir)
      }
    sys.exit(if (ok) 0 else 1)
  }

  /** One set-up and one operation of every workload: the build archives
   * the classes this JVM loaded, and every benchmark JVM maps them. */
  private def train(spark: SparkSession, dir: Path): Unit = {
    val off = new Tracer(spark, enabled = false)
    for (name <- Workloads) {
      val w = workload(name, spark, 0)
      w.setup(dir.resolve(name))
      w.op(0, off)
    }
    val table = dir.resolve("validate_scan").resolve("code_files").toString
    val checks = new ChecksProbe(spark, ValidateRows)
    checks.setup(table, dir.resolve("checks"))
    checks.op(off)
    val ingest = new IngestProbe(spark, 0, deltaRows = 1000, deltas = 1)
    ingest.setup(dir.resolve("ingest"))
    ingest.op(0, off)
  }

  private def run(spark: SparkSession, w: Workload, name: String, seed: Long,
      seconds: Double, trace: Boolean, cores: Int, sessionS: Double,
      runDir: Path, work: Path): Unit = {
    val setupTimes = (0 until SetupReps).map { k =>
      val t0 = System.nanoTime()
      w.setup(runDir.resolve(s"setup$k"))
      val s = (System.nanoTime() - t0) / 1e9
      if (k > 0) delete(runDir.resolve(s"setup${k - 1}"))
      s
    }
    val setupS = sessionS + Stats.median(setupTimes)
    val inputs = files(runDir)
    val inputBytes = inputs.map(Files.size).sum

    val ledger = new Ledger
    var next = 0
    /** Closed loop: operations back to back until `budget` seconds have
     * passed and at least `minOps` ran, the k-th under `tracerOf(k)`;
     * returns each operation's time. */
    def loop(budget: Double, minOps: Int)(tracerOf: Int => Tracer): Seq[Double] = {
      val times = ArrayBuffer.empty[Double]
      val start = System.nanoTime()
      while (times.size < minOps || (System.nanoTime() - start) / 1e9 < budget) {
        val ok = try w.op(next, tracerOf(times.size)) catch {
          case e: Exception => e.printStackTrace(); false
        }
        ledger.record(s"$name operation $next", ok)
        times += w.lastOpSeconds
        next += 1
      }
      times.toSeq
    }

    val off = new Tracer(spark, enabled = false)
    // Warm-up: a fixed number of operations, the cold first one included.
    // The JIT compiles Spark's planner by call counts, so a count (not a
    // time) puts every run at the same point of the warm-up curve, however
    // busy the host is; 3S seconds cap it on a host too slow for the count.
    val warm = ArrayBuffer.empty[Double]
    val warmStart = System.nanoTime()
    while (warm.size < w.warmupOps && (System.nanoTime() - warmStart) / 1e9 < 3 * seconds)
      warm ++= loop(0, 1)(_ => off)
    val tracer = new Tracer(spark, enabled = trace)
    // A traced run alternates untraced and traced operations, so both see
    // the same warm-up drift and their ratio is the tracing overhead. The
    // host window (steal, external load) is recorded and marked, not retried.
    val (times, window) = graft.Bench.WindowProbe.around(
      if (trace) loop(seconds, 6)(k => if (k % 2 == 0) off else tracer)
      else loop(seconds, 4)(_ => off))
    val untraced = if (trace) times.grouped(2).map(_.head).toSeq else times
    val p50 = Stats.median(untraced)
    val p90 = Stats.quantile(untraced, 0.9)

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("rows_per_s", w.rowsPerOp / p50, "rows/s"))
      else {
        val traced = times.grouped(2).flatMap(_.drop(1)).toSeq
        val layers = w.layers(tracer, ledger)
        tracer.close()
        val ops = tracer.named("op")
        val c = ops.map(_.counts)
        def perOp(f: Counts => Long): Double = c.map(f).sum.toDouble / ops.size
        val wallNs = ops.map(s => s.endNs - s.startNs).sum.toDouble
        val generic = Map(
          "spark.jobs_per_op" -> perOp(_.jobs),
          "spark.tasks_per_op" -> perOp(_.tasks),
          "spark.cpu_util" -> c.map(_.cpuNs).sum / (wallNs * cores),
          "spark.gc_ms_per_op" -> perOp(_.gcMs),
          "spark.shuffle_write_bytes_per_op" -> perOp(_.shuffleWrite),
          "spark.shuffle_read_bytes_per_op" -> perOp(_.shuffleRead),
          "spark.spill_bytes_per_op" -> perOp(_.spill),
          "engine.plan_ms_per_op" -> perOp(_.planMs),
          "trace_overhead_frac" -> (Stats.median(traced) / p50 - 1))
        val all = generic ++ layers
        val traceFile = work.resolve("traces").resolve(s"$name-s$seed.json")
        Gen.writeText(traceFile,
          s"""{"workload":"$name","seed":$seed,"spans":${tracer.json},"layers":${jsonObj(all)}}""")
        println(s"# trace file: $traceFile")
        Layers.map { case (n, unit) => (n, all.getOrElse(n, 0.0), unit) }
      }

    val failedFrac = ledger.failed.toDouble / ledger.attempted
    val peakRss = peakRssMb()
    val dirty = if (window.clean) "clean" else "DIRTY"
    val record =
      s"""{"workload":"$name","seed":$seed,"trace":$trace,"cores":$cores,""" +
        s""""input_rows":${w.inputRows},"input_bytes":$inputBytes,"input_files":${inputs.size},""" +
        s""""setup_reps_s":${setupTimes.mkString("[", ",", "]")},"session_s":$sessionS,""" +
        s""""warmup_s":${warm.mkString("[", ",", "]")},"measured_s":${untraced.mkString("[", ",", "]")},""" +
        s""""failed_frac":$failedFrac,"peak_rss_mb":$peakRss,"window":${window.json},""" +
        s""""metrics":${jsonObj(metrics.map(m => m._1 -> m._2).toMap)}}"""
    Gen.writeText(work.resolve("results").resolve(s"$name-s$seed-t${if (trace) 1 else 0}.json"), record)

    println(s"# workload=$name seed=$seed trace=${if (trace) 1 else 0} cores=$cores")
    println(s"# inputs rows=${w.inputRows} bytes=$inputBytes files=${inputs.size}")
    println(s"# window $dirty ${window.json}")
    println(f"# ops warmup=${warm.size} measured=${untraced.size} p50_ms=${p50 * 1000}%.2f p90_ms=${p90 * 1000}%.2f")
    println(s"# attempted=${ledger.attempted} failed=${ledger.failed} failed_frac=$failedFrac")
    println(s"# peak_rss_mb=$peakRss")
    metrics.foreach { case (n, v, u) => println(s"# $n = $v $u") }
    val ms = metrics.map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }
    println(s"""{"correct":${ledger.failed == 0},"attempted":${ledger.attempted},""" +
      s""""failed":${ledger.failed},"metrics":${ms.mkString("{", ",", "}")}}""")
  }

  private def jsonObj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  /** Peak resident memory of this process (VmHWM), in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq

  private def delete(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}
