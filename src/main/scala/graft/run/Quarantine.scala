package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.compile.ChecklistCompiler
import graft.engine.Validator
import graft.model.Checklist
import graft.sources.SnapshotTable

/**
 * The quarantine loop — what a table-native validation engine exists to
 * close (reference: the validate→fix→revalidate cycle
 * `/root/reference/bin/validate_manifest` only gestures at by writing an
 * invalid-rows CSV for a human to fix and resubmit by hand):
 *
 *  1. [[quarantineInvalid]] — validate the CURRENT snapshot and move
 *     every invalid row OUT of the table into a quarantine table that
 *     keeps the structured error message next to the data;
 *  2. someone (or something) fixes the quarantined rows;
 *  3. [[mergeCorrections]] — gate the corrections through the SAME
 *     checklist (a fix that still violates is rejected at the door,
 *     named, before any table write), MERGE the survivors back home by
 *     key, and retire them from quarantine.
 *
 * Both steps are pure table-format operations, so every cost bound is
 * the copy-on-write one: only files actually containing an invalid /
 * corrected row are rewritten, the other 10^12 carry by reference, and
 * every intermediate state is a snapshot — time travel shows the table
 * before the quarantine, and an incremental consumer sees exactly the
 * rewritten survivors.
 *
 * The invalid-row predicate handed to the CoW delete is the compiled
 * checklist's `violations` column itself — a pure Catalyst expression
 * over the table columns, so the delete's planning scan runs it with
 * column pruning and parquet pushdown under it, never a collected row
 * set. The quarantine write and the delete make the same verdict
 * independently; the checklist compiles to deterministic expressions,
 * so the two passes cannot disagree.
 */
object Quarantine {

  final case class QuarantineResult(
      tableVersion: Long, quarantineVersion: Long,
      quarantined: Long, remaining: Long)

  final case class CorrectionResult(
      tableVersion: Long, quarantineVersion: Long, retired: Long)

  /** The quarantine table's extra column: the reference-wording error
   * string explaining WHY the row is here. */
  val ErrorCol: String = Validator.ErrorCol

  /**
   * Move every row of `root`'s current snapshot that violates
   * `checklist` into `quarantineRoot` (appended — a quarantine table
   * accumulates across runs; its schema is the table's columns plus
   * [[ErrorCol]]), then copy-on-write-delete those rows from `root`.
   * `rowIdCol` is the natural key used in error messages (pass one at
   * scale — see [[Validator.Options.rowIdCol]]). A fully-valid table
   * commits nothing to either root. `quarantinePartitionCols` defaults to
   * the source table's own partitioning (quarantined rows keep their
   * locality so the merge-back prunes the same way).
   *
   * `mor = true` switches the delete leg to MERGE-ON-READ position
   * deletes ([[SnapshotTable.deleteWhereMoR]]): the quarantine rewrites
   * NO data files — the right shape when a daily validation pass flags a
   * trickle of rows scattered across a 10^12-file table, where the
   * copy-on-write delete would rewrite every touched file in full.
   * Per-target counts keep `rowCount` (and this method's `remaining`)
   * metadata-exact; fold the accumulated delete files with
   * [[SnapshotTable.materializeDeletes]] on the maintenance cadence.
   */
  def quarantineInvalid(spark: SparkSession, root: String,
      quarantineRoot: String, checklist: Checklist, rowIdCol: String,
      quarantinePartitionCols: Seq[String] = Seq.empty,
      verboseErrors: Boolean = false,
      mor: Boolean = false): QuarantineResult = {
    // delete FIRST: a fully-valid table commits nothing to either root
    // (deleteWhere no-ops on zero matches). The doomed rows stay readable
    // for the quarantine write through the pre-delete snapshot — that is
    // what time travel is FOR.
    val compiled = ChecklistCompiler.compile(checklist, verboseErrors)
    val qPartCols =
      if (quarantinePartitionCols.nonEmpty) quarantinePartitionCols
      else SnapshotTable.snapshot(spark, root).partitionCols
    val (tSnap, deleted) =
      if (mor) SnapshotTable.deleteWhereMoR(spark, root, !compiled.passed)
      else SnapshotTable.deleteWhere(spark, root, !compiled.passed)
    val qVersion = SnapshotTable.currentVersion(spark, quarantineRoot)
      .getOrElse(0).toLong
    // rowCountOrScan, not rowCount: the table may carry pending EQUALITY
    // deletes (CDC via deleteByKeysMoR) that make metadata counts
    // inexact — `remaining` must not abort an already-committed pass
    if (deleted == 0L)
      return QuarantineResult(tSnap.version.toLong, qVersion, 0L,
        SnapshotTable.rowCountOrScan(spark, root))

    val before = SnapshotTable.read(spark, root,
      version = Some(tSnap.version - 1))
    val validated = Validator.validate(before, checklist,
      Validator.Options(rowIdCol = Some(rowIdCol),
        verboseErrors = verboseErrors))
    val invalid = validated.filter(!col(Validator.PassedCol))
      .select(before.columns.map(col) :+ col(ErrorCol): _*)
    val qSnap = SnapshotTable.commit(invalid, quarantineRoot,
      qPartCols, overwritePartitions = false)
    val quarantined = qSnap.files // this commit's delta only, from metadata
      .filter(_.path.contains(s"/data/s${qSnap.version}/")).map(_.rows).sum
    require(deleted == quarantined,
      s"the delete removed $deleted rows but quarantine captured $quarantined — " +
        "the checklist verdict must be deterministic")
    QuarantineResult(tSnap.version.toLong, qSnap.version.toLong,
      quarantined, SnapshotTable.rowCountOrScan(spark, root))
  }

  /**
   * Merge corrected rows back into `root` by `keyCols` and retire them
   * from the quarantine table. The corrections are gated through the
   * checklist FIRST: any row that still violates fails the whole batch
   * with its error string (one validation pass, fail-fast — a half-merged
   * correction batch is worse than a rejected one). `corrected` carries
   * the table's columns (an [[ErrorCol]] left over from the quarantine
   * read is dropped for the merge and ignored by the gate).
   */
  def mergeCorrections(corrected: DataFrame, root: String,
      quarantineRoot: String, checklist: Checklist,
      keyCols: Seq[String]): CorrectionResult = {
    val spark = corrected.sparkSession
    val body = if (corrected.columns.contains(ErrorCol))
      corrected.drop(ErrorCol) else corrected
    val compiled = ChecklistCompiler.compile(checklist)
    val stillBad = body.filter(!compiled.passed)
      .select(keyCols.map(col) :+
        compiled.errorString(concat_ws("/", keyCols.map(col): _*)).as(ErrorCol): _*)
      .limit(3).collect()
    require(stillBad.isEmpty,
      s"correction batch still violates checklist '${checklist.name}' — " +
        s"first offenders: ${stillBad.map(_.toSeq.mkString("(", ", ", ")")).mkString("; ")}")

    val tSnap = SnapshotTable.merge(body, root, keyCols)
    val (qSnap, retired) = SnapshotTable.deleteByKeys(
      body.select(keyCols.map(col): _*), quarantineRoot, keyCols)
    CorrectionResult(tSnap.version.toLong, qSnap.version.toLong, retired)
  }
}
