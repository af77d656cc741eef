package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.compile.ChecklistCompiler
import graft.engine.Validator
import graft.functions.Sha256Hex
import graft.model.ChecklistConfig
import graft.quality.{ColumnStats, ConstraintDiscovery, Drift, Referential, Uniqueness}
import graft.run.{CheckpointRunner, Main => Cli}
import graft.sources.{ManifestReader, SnapshotTable}

/** Operations done and operations that threw or answered wrong. */
final class Ledger {
  var attempted = 0L
  var failed = 0L
  def record(what: String, ok: Boolean): Boolean = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] wrong result: $what")
    }
    ok
  }
}

/** One workload: its inputs, its operation and the layer probes of the
 * traced run. A layer a workload never calls is reported as 0 by Main. */
abstract class Workload(val spark: SparkSession, val seed: Long) {
  /** Rows one operation processes, and rows the set-up generates. */
  def rowsPerOp: Long
  def inputRows: Long
  /** Operations run before measuring, the cold first one included. */
  def warmupOps: Int
  /** Generates and writes the inputs under `into`; later calls use them. */
  def setup(into: Path): Unit
  /** One operation; false when its result is wrong. */
  def op(i: Int, t: Tracer): Boolean
  /** Per-layer metrics, measured after the traced operations. */
  def layers(t: Tracer, ledger: Ledger): Map[String, Double]

  /** Wall time of the last operation's timed part. */
  var lastOpSeconds = 0.0

  /** The timed part of an operation, recorded as its "op" span. */
  protected def timedOp[A](t: Tracer)(body: => A): A = {
    val t0 = System.nanoTime()
    val a = t.span("op")(body)
    lastOpSeconds = (System.nanoTime() - t0) / 1e9
    a
  }

  protected def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private var observations = 0
  /** Runs `df` to a no-op sink, so every column is computed and nothing is
   * shuffled or written, and returns the observed aggregates. */
  protected def observe(df: DataFrame, aggs: (String, Column)*): Map[String, Long] = {
    observations += 1
    val obs = Observation(s"perfbench_$observations")
    val named = aggs.map { case (n, c) => c.as(n) }
    df.observe(obs, named.head, named.tail: _*)
      .write.format("noop").mode("overwrite").save()
    obs.get.map { case (k, v) => k -> Option(v).fold(0L)(_.toString.toLong) }
  }

  protected def medianOf(spans: Seq[Span]): Double = Stats.median(spans.map(_.seconds))
}

/** Bulk validation of one parquet table: scan, compiled rules, sha256 and
 * the error string in one projection, with no shuffle and no writes. */
final class ValidateScan(spark: SparkSession, seed: Long, rows: Long, files: Int)
    extends Workload(spark, seed) {
  private var path = ""
  private val exp = Gen.expect(0, rows)
  private val ProbeWarmOps = 2
  private val ProbeOpsTraced = 3
  def warmupOps: Int = 20
  def rowsPerOp: Long = rows
  def inputRows: Long = rows

  def setup(into: Path): Unit = {
    path = into.resolve("code_files").toString
    Gen.codeFiles(spark, 0, rows, seed, files).write.parquet(path)
  }

  private def validated: DataFrame = Validator.validate(spark.read.parquet(path),
    Gen.checklist, Validator.Options(rowIdCol = Some("id"), contentCol = Some("content")))

  def op(i: Int, t: Tracer): Boolean = timedOp(t) {
    val m = observe(validated,
      "rows" -> count(lit(1)),
      "invalid" -> count(when(!col(Validator.PassedCol), 1)),
      "violations" -> sum(size(col(Validator.ViolationsCol))),
      "sha" -> count(col(Validator.ShaCol)),
      "errors" -> count(col(Validator.ErrorCol)))
    m("rows") == exp.rows && m("invalid") == exp.invalid &&
      m("violations") == exp.violations && m("sha") == exp.rows - exp.nullContent &&
      m("errors") == exp.invalid
  }

  def layers(t: Tracer, ledger: Ledger): Map[String, Double] = {
    val opSpans = t.named("op")
    ledger.record("validate pass wrote shuffle bytes",
      opSpans.map(_.counts.shuffleWrite).sum == 0)

    val compileMs = Stats.median((1 to 20).map(_ =>
      timed(ChecklistCompiler.compile(Gen.checklist))._2 * 1000))
    // the ladder: each rung adds one layer to the rung below it
    val compiled = ChecklistCompiler.compile(Gen.checklist)
    val five = Seq("repo", "path", "commit", "lang", "content").map(col)
    val sha = Sha256Hex.column(col("content")).as("sha")
    val viol = compiled.violations.as("v")
    val err = compiled.errorString(col("id")).as("e")
    val rungs: Seq[(String, Seq[Column], Column, Long)] = Seq(
      ("sources.scan", five, count(lit(1)), exp.rows),
      ("functions.sha256", five :+ sha, count(col("sha")), exp.rows - exp.nullContent),
      ("compile.rules", five :+ sha :+ viol, sum(size(col("v"))), exp.violations),
      ("compile.error_string", five :+ sha :+ viol :+ err, count(col("e")), exp.invalid))
    for (_ <- 1 to 3; (name, cols, agg, want) <- rungs) {
      val got = t.span(name)(observe(spark.read.parquet(path).select(cols :+ col("id"): _*), "n" -> agg))
      ledger.record(s"$name rung", got("n") == want)
    }
    for (_ <- 1 to 3) {
      val perRule = t.span("engine.violation_rows") {
        Validator.violationRows(validated).groupBy("field", "rule_id").count().collect()
      }.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      ledger.record(s"per-rule violation counts $perRule", perRule == exp.byRule)
    }
    // The table checks over the same table and the ingest path, which
    // validates through the same projection with writes beside it. For
    // each, the first operations warm it up untraced, the rest are traced.
    val off = new Tracer(spark, enabled = false)
    val checks = new ChecksProbe(spark, rows)
    checks.setup(path, Path.of(path).resolveSibling("checks"))
    for (i <- 0 until ProbeWarmOps + ProbeOpsTraced)
      ledger.record(s"table checks suite $i", checks.op(if (i < ProbeWarmOps) off else t))
    val ingest = new IngestProbe(spark, seed, deltaRows = 25000, deltas = 2)
    ingest.setup(Path.of(path).resolveSibling("ingest"))
    for (i <- 0 until ProbeWarmOps + ProbeOpsTraced)
      ledger.record(s"ingest delta $i", ingest.op(i, if (i < ProbeWarmOps) off else t))
    val rung = rungs.map { case (n, _, _, _) => medianOf(t.named(n)) }
    checks.layers(t) ++ ingest.layers(t) ++ Map(
      "sources.scan_s" -> rung(0),
      "functions.sha256_self_s" -> (rung(1) - rung(0)),
      "compile.rules_self_s" -> (rung(2) - rung(1)),
      "compile.error_string_self_s" -> (rung(3) - rung(2)),
      "engine.violation_rows_s" -> medianOf(t.named("engine.violation_rows")),
      "compile.compile_ms" -> compileMs)
  }
}

/** One suite of table checks over a generated code_files table of `rows`
 * rows: uniqueness under a hot repo, referential integrity, column
 * statistics, drift between two halves and constraint suggestion.
 * Shuffle- and aggregate-heavy; no rule projection. Measured as layer
 * probes of the validate_scan traced run, over its table. */
final class ChecksProbe(spark: SparkSession, rows: Long) {
  require(rows % 20 == 0, "rows must split into equal halves and ten buckets")
  private var path, dimPath = ""
  private val exp = Gen.expect(0, rows)
  private val half = rows / 2
  /** non-NULL content rows of each half: the drift histograms' sums */
  private val halfSums = (half - Gen.expect(0, half).nullContent,
    half - Gen.expect(half, rows).nullContent)
  private val lenSpec = ColumnStats.HistogramSpec(150, 250, 20)
  private val suggested = Seq(
    ("id", "not_null", ""), ("id", "range", s"[0,${rows - 1}]"), ("id", "unique", ""),
    ("lang", "enum", (Gen.Langs :+ Gen.Klingon :+ Gen.Unknown).sorted.mkString("|")),
    ("lang", "not_null", ""))
  private val skews = scala.collection.mutable.ArrayBuffer.empty[Double]

  /** Checks `table` from now on; writes the lang dimension under `into`. */
  def setup(table: String, into: Path): Unit = {
    import spark.implicits._
    path = table
    dimPath = into.resolve("dim_lang").toString
    Gen.Langs.toDF("lang").coalesce(1).write.parquet(dimPath)
  }

  /** One suite; false when a result is wrong. */
  def op(t: Tracer): Boolean = t.span("quality.suite") {
    val df = spark.read.parquet(path)
    val stagesBefore = if (t.enabled) t.stageIds else Set.empty[Int]
    val dup = t.span("quality.uniqueness") {
      Uniqueness.duplicates(df, Seq("repo", "path", "commit"))
        .agg(count(lit(1)), sum("dup_count")).head()
    }
    if (t.enabled) skews += t.reduceSkew(stagesBefore)
    val ri = t.span("quality.referential") {
      Referential.violations(df, "lang", spark.read.parquet(dimPath), "lang").count()
    }
    val stats = t.span("quality.column_stats") {
      ColumnStats.compute(df, Seq(
        ColumnStats.Request("id", Some(ColumnStats.HistogramSpec(0, rows, 10))),
        ColumnStats.Request("content"))).collect()
    }.map(r => r.getString(0) -> r).toMap
    val (a, b) = t.span("quality.drift") {
      val lens = df.select(col("id"), length(col("content")).as("len"))
      (ColumnStats.histogram(lens.filter(col("id") < half), "len", lenSpec),
        ColumnStats.histogram(lens.filter(col("id") >= half), "len", lenSpec))
    }
    val drifted = Drift.psi(a, b).drifted || Drift.ks(a, b, 0.05).drifted ||
      Drift.chiSquare(a, b, 60.0).drifted
    val rules = t.span("quality.suggest") {
      ConstraintDiscovery.suggestConstraints(df.select("id", "lang")).collect()
    }.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    dup.getLong(0) == exp.dupKeys && dup.getLong(1) == 2 * exp.dupKeys &&
      ri == exp.riRows &&
      stats("id").getSeq[Long](7) == Seq.fill(10)(rows / 10) &&
      stats("content").getLong(2) == exp.nullContent &&
      (a.sum, b.sum) == halfSums && !drifted &&
      rules == suggested
  }

  def layers(t: Tracer): Map[String, Double] = {
    def self(n: String) = Stats.median(t.named(n).map(t.selfSeconds))
    Map(
      "quality.suite_s" -> Stats.median(t.named("quality.suite").map(_.seconds)),
      "quality.uniqueness_s" -> self("quality.uniqueness"),
      "quality.uniqueness_shuffle_bytes" ->
        Stats.median(t.named("quality.uniqueness").map(_.counts.shuffleWrite.toDouble)),
      "quality.uniqueness_task_skew" -> Stats.median(skews.toSeq),
      "quality.referential_s" -> self("quality.referential"),
      "quality.column_stats_s" -> self("quality.column_stats"),
      "quality.drift_s" -> self("quality.drift"),
      "quality.suggest_s" -> self("quality.suggest"))
  }
}

/** Ingest with checkpointed validation, measured as layer probes of the
 * validate_scan traced run (it shares the validation projection). Each
 * operation appends one pre-generated delta to a snapshot table,
 * validates exactly that delta (validated rows, violation rows and the
 * manifest row are written), then repeats the call, which must take the
 * resume path. */
final class IngestProbe(spark: SparkSession, seed: Long, deltaRows: Long, deltas: Int) {
  private var dir: Path = _
  private def table = dir.resolve("table").toString
  private def delta(k: Int) = dir.resolve(s"delta_$k").toString
  private val exps = (0 until deltas).map(k => Gen.expect((k + 1) * deltaRows, (k + 2) * deltaRows))
  private val written = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]

  def setup(into: Path): Unit = {
    dir = into
    for (k <- 0 until deltas)
      Gen.codeFiles(spark, (k + 1) * deltaRows, (k + 2) * deltaRows, seed, 4)
        .write.parquet(delta(k))
    SnapshotTable.commit(Gen.codeFiles(spark, 0, deltaRows, seed, 4), table,
      Seq("lang"), overwritePartitions = false)
  }

  private def incremental(from: Long, to: Long) = CheckpointRunner.runIncremental(
    spark, Gen.checklist, table, from, to, dir.resolve("validated").toString,
    dir.resolve("violations").toString, dir.resolve("manifest").toString,
    rowIdCol = Some("id"), contentCol = Some("content"))

  private def outputs: (Long, Long) = {
    val files = Seq("table", "validated", "violations", "manifest")
      .map(dir.resolve).filter(Files.exists(_))
      .flatMap(p => Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq)
    (files.map(Files.size).sum, files.size.toLong)
  }

  /** One delta: commit, incremental validation, resume; false when a
   * result is wrong. */
  def op(i: Int, t: Tracer): Boolean = {
    val k = i % deltas
    val v0 = SnapshotTable.currentVersion(spark, table).get.toLong
    val before = if (t.enabled) outputs else (0L, 0L)
    val (v1, first, again) = t.span("run.ingest") {
      val v1 = t.span("sources.commit") {
        SnapshotTable.commit(spark.read.parquet(delta(k)), table, Seq("lang"),
          overwritePartitions = false).version.toLong
      }
      val first = t.span("run.incremental")(incremental(v0, v1))
      val again = t.span("run.resume")(incremental(v0, v1))
      (v1, first, again)
    }
    if (t.enabled) {
      val after = outputs
      val input = Files.walk(Path.of(delta(k))).iterator().asScala
        .filter(Files.isRegularFile(_)).map(Files.size).sum
      written += ((after._1 - before._1, after._2 - before._2,
        (after._1 - before._1).toDouble / input))
      t.span("sources.changes") {
        SnapshotTable.changesBetween(spark, table, v0.toInt, v1.toInt).queryExecution.executedPlan
      }
    }
    val e = exps(k)
    !first.skipped && first.nRows == e.rows && first.nInvalid == e.invalid &&
      first.nViolations == e.violations && again.skipped
  }

  def layers(t: Tracer): Map[String, Double] = {
    def median(n: String) = Stats.median(t.named(n).map(_.seconds))
    Map(
      "run.ingest_rows_per_s" -> deltaRows / median("run.ingest"),
      "spark.jobs_per_delta" -> Stats.median(t.named("run.ingest").map(_.counts.jobs.toDouble)),
      "sources.commit_s" -> median("sources.commit"),
      "sources.changes_ms" -> median("sources.changes") * 1000,
      "run.incremental_s" -> median("run.incremental"),
      "run.resume_ms" -> median("run.resume") * 1000,
      "run.resume_jobs" -> Stats.median(t.named("run.resume").map(_.counts.jobs.toDouble)),
      "run.bytes_written" -> Stats.median(written.map(_._1.toDouble).toSeq),
      "run.files_written" -> Stats.median(written.map(_._2.toDouble).toSeq),
      "run.write_amp" -> Stats.median(written.map(_._3).toSeq))
  }
}

/** The reference's own use case: the validate_manifest CLI path on one
 * small manifest CSV per operation, run to a CSV write. Latency here is
 * driver planning, job launch, config parsing and CSV hygiene. */
final class ManifestCli(spark: SparkSession, seed: Long, manifests: Int)
    extends Workload(spark, seed) {
  private var dir: Path = _
  private def conf = dir.resolve("checklist.conf").toString
  private def csv(m: Int) = dir.resolve(f"manifests/m$m%04d.csv").toString
  private def out = dir.resolve("out")
  def warmupOps: Int = 24
  def rowsPerOp: Long = Gen.ManifestRows
  def inputRows: Long = Gen.ManifestRows.toLong * manifests

  def setup(into: Path): Unit = {
    dir = into
    Gen.writeText(Path.of(conf), Gen.ManifestConfig)
    for (m <- 0 until manifests) Gen.writeText(Path.of(csv(m)), Gen.manifestCsv(m, seed))
  }

  def op(i: Int, t: Tracer): Boolean = {
    val m = i % manifests
    val buf = new java.io.ByteArrayOutputStream()
    val exit = timedOp(t) {
      Console.withOut(new java.io.PrintStream(buf, true)) {
        Cli.run(Cli.Args(config = Some(conf), output = Some(out.toString),
          input = Some(csv(m))), spark)
      }
    }
    if (t.enabled) {
      val checklist = t.span("model.parse")(ChecklistConfig.parseFile(conf))
      t.span("sources.read_csv")(ManifestReader.readCsv(spark, csv(m), checklist))
    }
    val lines = Files.list(out).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".csv"))
      .map(p => Files.readAllLines(p).size).sum
    exit == 1 && lines == Gen.ManifestRows + 1 &&
      buf.toString.trim == s"'${csv(m)}' is invalid. Found ${Gen.manifestInvalid(m)} invalid rows"
  }

  def layers(t: Tracer, ledger: Ledger): Map[String, Double] = Map(
    "model.parse_ms" -> medianOf(t.named("model.parse")) * 1000,
    "sources.read_csv_ms" -> medianOf(t.named("sources.read_csv")) * 1000)
}
