package graft.gold

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Segmented gold path for skew-routed (mega) conversations: each
  * conversation is cut into time segments of `segmentSecs`, and every
  * (conv, segment) pair runs through the light path's own sweep
  * ([[FusedSweep.gold]]) as if it were a conversation of its own —
  * keyed `conv_id + "\u0000" + <20-digit segment>` — so no stage holds
  * a whole mega-conversation on one task.
  *
  * A segment needs the same two inputs a slice does (the chained
  * partial-aggregate shape of CPiX, PAPERS.md):
  *  - carried state: a NARROW summary pass (conv, turn, ts, role only)
  *    produces per-(conv, seg) first/last/breaks, and a tiny window
  *    chains them with the conversation's carried state into one
  *    state pseudo-row per segment (predecessor ts and role, session
  *    offset) — exact, because a session break depends only on the
  *    gap to the true predecessor;
  *  - lookback events: every event row feeds the following
  *    ceil(lookback/segmentSecs) segments as a narrow (t, len, tool)
  *    context row, committed context also its own segment. Each owner
  *    row's trailing frames then lie entirely within its segment's
  *    feed.
  *
  * Routing: [[graft.Backfill]] sends a conversation here only when its
  * rows in the slice, or its committed lookback events, cross the
  * absolute `skewHeavyThreshold`.
  *
  * Preconditions match the light sweep: ts non-decreasing in turn
  * within a conversation. Segments partition by ts, so that holds iff
  * ts never decreases within a segment and the turn ranges rise from
  * segment to segment; the summary pass checks both and throws the
  * sweep's marked error naming the conversation, so [[graft.Backfill]]
  * reroutes it to the turn-ordered single-window path.
  */
object SegmentedSweep {

  // "\u0000" + the zero-padded segment appended to conv_id
  private val KeySuffixLen = 21

  private def segmentOf(segmentSecs: Long): Column =
    floor(unix_timestamp(col("ts")) / segmentSecs).cast("long")

  /** Build the segmented gold for the routed conversations.
    *
    * @param silverH  deduped full-width slice rows (conv_id, turn_idx,
    *                 role, text, tool, ts) of the routed conversations,
    *                 already past the committed dedup horizon
    * @param ctx      committed lookback context rows with `_fw_len`
    *                 (text may be null — gold-sourced narrow reads)
    * @param state    latest per-conversation carried state (conv_id,
    *                 st_last_ts, st_last_role, st_sessions)
    */
  def gold(
      silverH: DataFrame,
      ctx: DataFrame,
      state: DataFrame,
      gapSecs: Long,
      segmentSecs: Long,
      lookbackSecs: Long = 604800L,
      numPartitions: Option[Int] = None): DataFrame = {
    require(segmentSecs > 0)
    val tsSec = unix_timestamp(col("ts"))
    val key = concat(col("conv_id"), lit("\u0000"), lpad(col("_seg").cast("string"), 20, "0"))
    val owners = silverH.withColumn("_seg", segmentOf(segmentSecs))

    // ---- narrow summary pass -> per-(conv, seg) state pseudo-rows ----
    val wSeg = Window.partitionBy(col("conv_id"), col("_seg")).orderBy(col("turn_idx"))
    val summary = owners
      .select(col("conv_id"), col("_seg"), col("turn_idx"), col("ts"), col("role"),
        (tsSec - lag(tsSec, 1).over(wSeg)).as("_gap"))
      .groupBy(col("conv_id"), col("_seg")).agg(
        min(col("turn_idx")).as("_min_turn"),
        max(col("turn_idx")).as("_max_turn"),
        min(col("_gap")).as("_min_gap"),
        min_by(col("ts"), col("turn_idx")).as("_first_ts"),
        max_by(col("ts"), col("turn_idx")).as("_last_ts"),
        max_by(col("role"), col("turn_idx")).as("_last_role"),
        sum(when(col("_gap") > gapSecs, 1).otherwise(0)).as("_breaks_within"))
    val wConv = Window.partitionBy(col("conv_id")).orderBy(col("_seg"))
    val chained = summary
      .join(state, Seq("conv_id"), "left")
      .withColumn("_prev_ts", coalesce(lag(col("_last_ts"), 1).over(wConv), col("st_last_ts")))
      .withColumn("_prev_role",
        coalesce(lag(col("_last_role"), 1).over(wConv), col("st_last_role")))
      .withColumn("_breaks", col("_breaks_within") +
        when(col("_prev_ts").isNull ||
          unix_timestamp(col("_first_ts")) - unix_timestamp(col("_prev_ts")) > gapSecs, 1)
          .otherwise(0))
      .withColumn("_offset", coalesce(col("st_sessions"), lit(0)) +
        coalesce(sum(col("_breaks")).over(
          wConv.rowsBetween(Window.unboundedPreceding, -1)), lit(0)))
      .withColumn("_inverted", col("_min_gap") < 0 ||
        lag(col("_max_turn"), 1).over(wConv) >= col("_min_turn"))
    // the inversion check is the CASE's condition, so it runs on every
    // segment row; a segment without a predecessor (the conversation's
    // first, no carried state) gets no state row
    val seeds = chained
      .filter(when(col("_inverted"), raise_error(concat(
        lit("fused sweep precondition violated: ts decreases within conversation "),
        col("conv_id"), lit(" in the segmented sweep (time segment "),
        col("_seg").cast("string"), lit(")")))).otherwise(col("_prev_ts").isNotNull))
      .select(key.as("conv_id"), lit(Int.MinValue).as("st_last_turn_idx"),
        col("_prev_role").as("st_last_role"), col("_prev_ts").as("st_last_ts"),
        lit(0L).as("slice_start"), col("_offset").cast("int").as("st_sessions"))

    FusedSweep.gold(seeds,
        owners.select(key.as("conv_id"), col("turn_idx"), col("role"), col("text"),
          col("tool"), col("ts")),
        gapSecs,
        ctxStream = Some(feeders(silverH, ctx, segmentSecs, lookbackSecs)
          .select(key.as("conv_id"), col("t"), col("len"), col("tool"))),
        numPartitions = numPartitions.orElse(
          Some(silverH.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)))
      .withColumn("conv_id",
        col("conv_id").substr(lit(1), length(col("conv_id")) - KeySuffixLen))
  }

  /** The sweep's context side-stream before keying: one narrow
    * (conv_id, _seg, t, len, tool) feeder row per event and segment it
    * reaches. Slice rows feed the FOLLOWING `reach` segments (their own
    * segment sees them as owners); committed context rows feed their
    * own segment too, because the slice's first segment may straddle
    * the committed boundary. Feeders of a (conv, seg) that owns no
    * slice row are skipped by the sweep's side-stream merge.
    */
  private[graft] def feeders(
      silverH: DataFrame,
      ctx: DataFrame,
      segmentSecs: Long,
      lookbackSecs: Long): DataFrame = {
    val reach = ((lookbackSecs + segmentSecs - 1) / segmentSecs).toInt
    val ownSeg = segmentOf(segmentSecs)
    def feed(df: DataFrame, len: Column, from: Int): DataFrame = df.select(
      col("conv_id"), explode(sequence(ownSeg + from, ownSeg + reach)).as("_seg"),
      unix_timestamp(col("ts")).as("t"), len.as("len"), col("tool"))
    feed(silverH, coalesce(length(col("text")).cast("long"), lit(0L)), 1)
      .unionByName(feed(ctx, col("_fw_len"), 0))
  }
}
