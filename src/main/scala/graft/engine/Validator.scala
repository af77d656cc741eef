package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.compile.ChecklistCompiler
import graft.model.Checklist

/**
 * The engine's core entry point: validate a DataFrame against a compiled
 * checklist in ONE narrow projection — the Spark-native replacement for the
 * reference's row-at-a-time `validate` loop
 * (reference: lib/Bio/Metadata/Validator.pm:109-156).
 *
 * Output schema = input columns + `row_id`, `violations`
 * (array<struct<field,rule_id,message>>), `passed`, `error`
 * (reference-format accumulated message, NULL when passed) and optionally
 * `content_sha256` (the per-row identity invariant generalizing the
 * reference's whole-file MD5, Reader.pm:86-88, per BASELINE.json input_hint).
 *
 * No shuffle is introduced: the projection is pipelined with the scan;
 * filters/pruning still push down past it. The projection is stateless,
 * so the same call validates a streaming DataFrame (`readStream` in,
 * `writeStream` out) when `rowIdCol` names its key.
 */
object Validator {

  final case class Options(
      /** Column used as the row identity in messages and violation rows.
       * At cluster scale pass a natural key; None = synthesize a 1-based
       * input-order id (only sensible for small manifest-style inputs). */
      rowIdCol: Option[String] = None,
      /** Column to fingerprint with sha256 (input_hint invariant). */
      contentCol: Option[String] = None,
      verboseErrors: Boolean = false
  )

  val RowId = "row_id"
  val ViolationsCol = "violations"
  val PassedCol = "passed"
  val ErrorCol = "error"
  val ShaCol = "content_sha256"

  def validate(df: DataFrame, checklist: Checklist,
      opts: Options = Options()): DataFrame = {
    val compiled = ChecklistCompiler.compile(checklist, opts.verboseErrors)

    val withId: DataFrame = opts.rowIdCol match {
      case Some(c) => df.withColumn(RowId, col(c))
      case None =>
        require(!df.isStreaming,
          "rowIdCol=None numbers rows in input order, which a stream does " +
            "not have. Pass Options(rowIdCol = Some(<key>)) to validate a " +
            "streaming DataFrame.")
        // 1-based input-order row number, matching the reference's row
        // numbering (Validator.pm:140). zipWithIndex keeps partition-local
        // counting + a tiny driver-side offset scan — no global shuffle —
        // but it de-columnarizes (RDD round-trip: no codegen or pushdown
        // below it), so it is ONLY for manifest-sized inputs. Fail fast on
        // anything bigger instead of silently running 100x slower; the
        // size check is plan statistics, not a data scan.
        val estBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
        // plans without statistics report conf.defaultSizeInBytes
        // (Long.MaxValue unless tuned) — "unknown" must not trip the guard
        val unknown =
          estBytes >= BigInt(df.sparkSession.sessionState.conf.defaultSizeInBytes)
        require(unknown || estBytes < (1L << 30),
          s"rowIdCol=None synthesizes input-order ids via RDD zipWithIndex, " +
            s"intended for manifest-sized inputs only (estimated input " +
            s"$estBytes bytes >= 1 GiB). Pass Options(rowIdCol = Some(<key>)) " +
            s"to keep the validation pass columnar.")
        val schema = df.schema
        val rdd = df.rdd.zipWithIndex.map { case (row, i) =>
          org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (i + 1L))
        }
        df.sparkSession.createDataFrame(rdd,
          schema.add(RowId, "long", nullable = false))
    }

    // per-row identity via the Sha256Hex kernel: value-identical to
    // sha2(.., 256) but without the per-row MessageDigest.getInstance —
    // sha runs on EVERY validated row, so its allocations set the
    // 32-thread ceiling just like RLike's Matcher did (round 2)
    val shaCols: Seq[Column] = opts.contentCol.toSeq.map(c =>
      graft.functions.Sha256Hex.column(col(c).cast(StringType)).as(ShaCol))

    // the rules are evaluated once, into the violations array; the
    // verdict and the error string are read from that array
    withId.select(
      (withId.columns.map(col).toSeq :+
        compiled.violations.as(ViolationsCol)) ++ shaCols: _*)
      .withColumn(PassedCol, size(col(ViolationsCol)) === 0)
      .withColumn(ErrorCol,
        ChecklistCompiler.errorString(col(ViolationsCol), col(RowId)))
  }

  /** Exploded structured violation rows `(row_id, field, rule_id, message)`
   * per the north_star output contract. */
  def violationRows(validated: DataFrame): DataFrame =
    validated
      .filter(!col(PassedCol))
      .select(col(RowId), explode(col(ViolationsCol)).as("v"))
      .select(col(RowId), col("v.field").as("field"),
        col("v.rule_id").as("rule_id"), col("v.message").as("message"))

  /** Validated-manifest CSV projection (reference: Manifest.pm:326-402
   * `get_csv`/`_get_csv_rows`): the checklist's columns in order plus the
   * accumulated error message appended as an extra trailing column (empty
   * string when the row passed, as the reference emits no cell content);
   * `invalidOnly` keeps only rows that have errors (Manifest.pm:391-396).
   * Rows come back in manifest order. Write with
   * `.write.option("header", true).csv(path)` for the reference's
   * header-first file shape. */
  def manifestCsv(validated: DataFrame, checklist: Checklist,
      invalidOnly: Boolean = false): DataFrame = {
    val base = if (invalidOnly) validated.filter(!col(PassedCol)) else validated
    base.orderBy(RowId)
      .select(checklist.fieldNames.map(col) :+
        coalesce(col(ErrorCol), lit("")).as("errors"): _*)
  }

  /** Count of invalid rows (reference: Manifest.pm:288-302). */
  def invalidRowCount(validated: DataFrame): Long =
    validated.filter(!col(PassedCol)).count()

  /** Validation report wording of the reference CLI
   * (reference: Validator.pm:170-189; exit code bin/validate_manifest:76). */
  def report(name: String, invalidRows: Long): (String, Int) =
    if (invalidRows == 0) (s"'$name' is valid", 0)
    else (s"'$name' is invalid. Found $invalidRows invalid rows", 1)
}
