package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Generic CDC A(dd)/C(hange)/D(elete) merge — the library API behind
  * q_cdc_merge. Implements the reference's monthly-update decision
  * matrix (land_registry_monthly_update_database_updater.py:47-88,
  * add_row/change_row/delete_row) over any keyed table:
  *
  *   - base: current table with soft-delete flag
  *   - changes: (key, record_op ∈ A/C/D, new values)
  *   - result: one row per surviving key with the applied values, the
  *     new soft-delete flag, and the outcome category (the reference's
  *     InputFileStatistics counter names).
  *
  * One full-outer shuffle join on the key — no per-row driver logic —
  * so the same plan applies a 10-row monthly update or a 100 TB
  * backfill. Row identity ("identical") compares `compareCols`.
  */
object CdcMerge {
  /** Every outcome [[merge]] and [[mergeBroadcast]] can emit: the
    * reference's InputFileStatistics counter names, plus the two
    * malformed-op ones. */
  val outcomes: Seq[String] = Seq(
    "add_and_added", "change_but_missing_and_added", "delete_but_missing_and_ignored",
    "invalid_op_missing_and_ignored", "unchanged_deleted", "unchanged",
    "add_but_deleted_and_changed", "change_but_deleted_and_ignored",
    "delete_but_deleted_and_ignored", "add_but_already_identical_and_ignored",
    "add_but_changed", "change_but_already_identical_and_ignored", "change_and_changed",
    "delete_and_deleted", "delete_but_not_identical_and_changed_and_deleted",
    "invalid_op_ignored")
  /** Outcomes that take the change row's values. */
  private val takesNew = Seq(
    "add_and_added", "change_but_missing_and_added", "add_but_deleted_and_changed",
    "add_but_changed", "change_and_changed",
    "delete_but_not_identical_and_changed_and_deleted")
  /** Outcomes that end deleted. */
  private val endsDeleted = Seq(
    "delete_and_deleted", "delete_but_not_identical_and_changed_and_deleted")
  /** Outcomes [[applied]] drops: the change named a key that never existed. */
  private val neverExisted = Seq(
    "delete_but_missing_and_ignored", "invalid_op_missing_and_ignored")

  private val op = col("record_op")
  private val wasDeleted = col("is_deleted") === "T"
  private def baseCol(x: String) = s"__base_$x"
  private def newCol(x: String) = s"__new_$x"

  /** The two sides renamed apart in ONE projection each: key and flag
    * (base) or op (changes), then the compare columns prefixed. Only
    * these columns reach the output, so nothing else is carried. */
  private def baseSide(base: DataFrame, key: String, compareCols: Seq[String]): DataFrame =
    base.select(col(key) +: col("is_deleted") +: compareCols.map(x => col(x).as(baseCol(x))): _*)
  private def changeSide(changes: DataFrame, key: String, compareCols: Seq[String]): DataFrame =
    changes.select(col(key) +: op +: compareCols.map(x => col(x).as(newCol(x))): _*)

  /** Each compare column's base and new value, side by side. */
  private def pairs(compareCols: Seq[String]): Seq[Column] =
    compareCols.flatMap(x => Seq(col(baseCol(x)), col(newCol(x))))

  /** Outcome of a change row whose key is not in the base. */
  private val missingOutcome: Column =
    when(op === "A", "add_and_added")
      .when(op === "C", "change_but_missing_and_added")
      .when(op === "D", "delete_but_missing_and_ignored")
      .otherwise("invalid_op_missing_and_ignored")

  /** Outcome of a base row, with or without a change row. Null-safe
    * equality: two null fields (empty CSV cells) count as identical, as
    * in the reference's row comparison. Any other op marker is
    * malformed input: the base row stays untouched and the row is
    * surfaced in stats instead of being soft-deleted by a catch-all. */
  private def inBaseOutcome(compareCols: Seq[String]): Column = {
    val identical = compareCols.map(x => col(newCol(x)) <=> col(baseCol(x))).reduce(_ && _)
    when(op.isNull && wasDeleted, "unchanged_deleted")
      .when(op.isNull, "unchanged")
      .when(wasDeleted && op === "A", "add_but_deleted_and_changed")
      .when(wasDeleted && op === "C", "change_but_deleted_and_ignored")
      .when(wasDeleted && op === "D", "delete_but_deleted_and_ignored")
      .when(op === "A" && identical, "add_but_already_identical_and_ignored")
      .when(op === "A", "add_but_changed")
      .when(op === "C" && identical, "change_but_already_identical_and_ignored")
      .when(op === "C", "change_and_changed")
      .when(op === "D" && identical, "delete_and_deleted")
      .when(op === "D", "delete_but_not_identical_and_changed_and_deleted")
      .otherwise("invalid_op_ignored")
  }

  /** The output projection over (key, outcome, is_deleted, prefixed
    * pairs): key, the applied compare values, the new soft-delete flag
    * and the outcome. */
  private def finalCols(key: String, compareCols: Seq[String]): Seq[Column] = {
    val outcome = col("outcome")
    val takes = outcome.isin(takesNew: _*)
    col(key) +: compareCols.map(x =>
      when(takes, col(newCol(x))).otherwise(col(baseCol(x))).as(x)) :+
      when(outcome.isin(endsDeleted: _*), "T")
        .when(outcome === "add_but_deleted_and_changed", "F")
        .when(wasDeleted, "T").otherwise("F").as("is_deleted") :+
      outcome
  }

  /** @param base        current table: key, compareCols, `is_deleted` ('T'/'F')
    * @param changes     change file: key, `record_op`, compareCols (new values)
    * @param key         join key column name
    * @param compareCols value columns used for the identical-row test
    */
  def merge(base: DataFrame, changes: DataFrame, key: String,
            compareCols: Seq[String]): DataFrame = {
    // explicit presence marker — compare columns may legitimately be
    // null (empty CSV cells), so their nullness can't signal absence
    val b = baseSide(base, key, compareCols).withColumn("__in_base", lit(1))
    val outcome = when(col("__in_base").isNull, missingOutcome)
      .otherwise(inBaseOutcome(compareCols))
    b.join(changeSide(changes, key, compareCols), Seq(key), "full_outer")
      .select(col(key) +: outcome.as("outcome") +: col("is_deleted") +:
        pairs(compareCols): _*)
      .select(finalCols(key, compareCols): _*)
  }

  /** Post-update table: drop the never-existed keys (D or malformed
    * op on a missing key). */
  def applied(merged: DataFrame): DataFrame =
    merged.filter(!col("outcome").isin(neverExisted: _*))

  /** The reference's operation-log statistics. */
  def stats(merged: DataFrame): DataFrame =
    merged.groupBy("outcome").agg(count(lit(1)).as("n_rows")).orderBy("outcome")

  /** The small-update merge path: when the change file is broadcastable
    * (a monthly update vs a 100 TB base), the full-outer formulation
    * is the wrong plan — it shuffles the ENTIRE base on the key. This
    * variant never shuffles or re-partitions the base:
    *
    *   1. base ⟕ broadcast(changes)      — all in-base outcomes
    *   2. base ⋉ broadcast(changes)      — matched change keys (small)
    *   3. changes ⟲ broadcast(matched)   — the missing-key change rows
    *   4. union of 1 and 3
    *
    * Every join builds on the small side; the base is NEVER shuffled
    * or re-partitioned. Scan cost: one full-row pass (step 1) plus one
    * column-pruned key-only pass (step 2) — vs the full shuffle of
    * every base byte in the full-outer plan. Outcome semantics are
    * identical to merge() (spec-pinned).
    *
    * The plan is built from flat projections — one prefixing `select`
    * per side, one per branch, one final: every `withColumn` or rename
    * checks the whole growing plan below it again, so a per-column
    * chain of them costs driver time before the first job starts. */
  def mergeBroadcast(base: DataFrame, changes: DataFrame, key: String,
                     compareCols: Seq[String]): DataFrame = {
    val b = baseSide(base, key, compareCols)
    val c = changeSide(changes, key, compareCols)
    // 1: in-base rows (change present or not) — base never shuffles
    val inBase = b.join(broadcast(c), Seq(key), "left")
      .select(col(key) +: inBaseOutcome(compareCols).as("outcome") +:
        col("is_deleted") +: pairs(compareCols): _*)
    // 2: matched change keys — output bounded by |changes|
    val matched = b.select(col(key))
      .join(broadcast(c.select(col(key))), Seq(key), "left_semi")
    // 3: change rows whose key is NOT in base
    val missing = c.join(broadcast(matched), Seq(key), "left_anti")
      .select(col(key) +: missingOutcome.as("outcome") +:
        lit(null).cast("string").as("is_deleted") +:
        compareCols.flatMap(x => Seq(
          lit(null).cast(c.schema(newCol(x)).dataType).as(baseCol(x)), col(newCol(x)))): _*)
    inBase.unionByName(missing).select(finalCols(key, compareCols): _*)
  }

  /** Fold a sequence of monthly update files over a base snapshot in
    * order — the reference's month-after-month database maintenance
    * loop (and its rewind/replay notebook), as one composed plan. Each
    * step's outcome column is dropped; soft-delete state carries
    * through, so a key deleted in month N and re-added in month N+1
    * follows the undelete path. */
  def applyAll(base: DataFrame, updates: Seq[DataFrame], key: String,
               compareCols: Seq[String]): DataFrame =
    updates.foldLeft(base) { (current, changes) =>
      applied(merge(current, changes, key, compareCols)).drop("outcome")
    }
}
