package graft.gold

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.schema.TranscriptSchema

/** Silver → gold trailing-window feature computation.
  *
  * Reference: spark_jobs/silver_and_gold.py:82-133 — four trailing
  * event-time range frames over `Window.partitionBy(card_id)
  * .orderBy(ts).rangeBetween(-N, 0)` (:95-97), mapped to transcripts
  * (conv_id, length(text), tool) per SURVEY.md §0. Additions mandated by
  * the north rule: lag/lead turn stats, inactivity-gap sessionization.
  *
  * Defect corrections (SURVEY.md §2.1):
  *  - D1: `countDistinct(...).over(window)` is invalid Spark; intended
  *    semantics (README.md:192) implemented exactly via
  *    `size(collect_set(tool).over(w24h))`.
  *  - D5: features are computed over full history, not the current
  *    micro-batch.
  *
  * Physical shape: all specs share `partitionBy(conv_id)`, so Catalyst
  * plans ONE Exchange; range frames sort by unix seconds, row frames by
  * turn_idx — two local sorts, zero extra shuffles. Every frame's upper
  * bound is the current row (leakage rule, enforced by
  * [[graft.guard.LeakageGuard]]).
  */
object FeatureWindows {

  private val tsSec: Column = unix_timestamp(col("ts"))

  /** Trailing event-time range frame of `n` seconds (inclusive both
    * ends, matching the reference's `rangeBetween(-N, 0)` on
    * epoch-seconds).
    */
  def wRange(n: Long): WindowSpec =
    Window.partitionBy(col("conv_id")).orderBy(tsSec).rangeBetween(-n, 0)

  /** Row frame in stable turn order. */
  val wRows: WindowSpec = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))

  /** The reference's four window features, transcript-mapped, plus the
    * tool-call count named by the north rule. Trailing-only.
    */
  def rangeFeatures(silver: DataFrame): DataFrame =
    silver
      .withColumn("turns_cnt_1h", count(lit(1)).over(wRange(3600L)))
      .withColumn("tool_calls_1h", count(col("tool")).over(wRange(3600L)))
      .withColumn("chars_sum_1h", sum(length(col("text")).cast("long")).over(wRange(3600L)))
      .withColumn("tool_distinct_24h", size(collect_set(col("tool")).over(wRange(86400L))))
      .withColumn("avg_chars_7d", avg(length(col("text"))).over(wRange(604800L)))

  /** lag/gap features in stable turn order. `lead`-based values are
    * deliberately NOT produced here — they read the future and are
    * quarantined to label derivation ([[graft.datasets.DatasetBuilder]]).
    */
  def lagFeatures(silver: DataFrame): DataFrame =
    silver
      .withColumn("prev_role", lag(col("role"), 1).over(wRows))
      .withColumn("gap_secs", tsSec - lag(tsSec, 1).over(wRows))

  /** Inactivity-gap sessionization: session_id = 1 + cumulative count of
    * gap breaks (first turn of a conversation always starts session 1).
    * Requires `gap_secs` (from [[lagFeatures]]).
    */
  def sessionize(withGaps: DataFrame, gapSecs: Long = TranscriptSchema.DefaultSessionGapSecs): DataFrame =
    withGaps.withColumn(
      "session_id",
      sum(when(col("gap_secs").isNull || col("gap_secs") > gapSecs, 1).otherwise(0))
        .over(wRows.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("int"))

  /** Full gold feature vector (the reference's gold projection shape,
    * silver_and_gold.py:108-121, D2-corrected `dt` retained from
    * silver).
    */
  def gold(silver: DataFrame, gapSecs: Long = TranscriptSchema.DefaultSessionGapSecs): DataFrame =
    sessionize(lagFeatures(rangeFeatures(silver)), gapSecs)
}
