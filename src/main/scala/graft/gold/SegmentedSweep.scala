package graft.gold

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, GraftInternalAccess, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** FUSED segmented gold path for skew-routed (mega) conversations:
  * ONE full-width exchange keyed (conv_id, time-segment) computing the
  * five trailing range features AND lag/gap AND sessionization in a
  * single InternalRow sweep — replacing the former heavy stack's three
  * full-width passes (a chunked frame pass + two segmented session
  * window passes).
  *
  * Scheme (SURVEY.md §4.2.3 + a segment-summary session chain, fused):
  *  - frames: every event row is replicated as a narrow FEEDER (no
  *    text — just (ts, len, tool)) into the following
  *    ceil(lookback/segmentSecs) segments; committed lookback context
  *    also feeds its own segment. Each owner row's trailing frames
  *    then lie entirely within its segment's feed — exact, the same
  *    segment salting as FastWindows.rangeFeaturesChunked, executed by
  *    the same FrameQ ring buffers as the light sweep.
  *  - lag/sessions: a NARROW summary pass (conv, turn, ts, role only —
  *    the scan never decodes text; a dedup-lite min_by is enough
  *    because rows tying on (ts, role, tool) cannot disagree on
  *    (ts, role)) produces per-(conv, seg) first/last/breaks; a tiny
  *    window chains them with the carried state into per-segment
  *    (prev_ts, prev_role, session_offset) seeds — exact, because a
  *    session break depends only on the gap to the true predecessor —
  *    which broadcast to the sweep as a driver map
  *    (O(heavy convs x segments) entries, the skew tail by
  *    construction).
  *
  * Cost vs the former stack: one narrow shuffle + one full-width shuffle
  * instead of three full-width window exchanges; the dedup aggregate
  * stays (segment-local dedup is wrong when a duplicate turn carries
  * a divergent ts).
  *
  * Routing: [[graft.Backfill]] sends a conversation here only when its
  * rows in the slice, or its committed lookback events, cross the
  * absolute `skewHeavyThreshold`. The light sweep's capacity check
  * finds such a conversation lazily; the routed set then carries to
  * later slices until the lookback drains, where one detection job at
  * the same threshold refreshes it.
  *
  * Preconditions match the light sweep: ts non-decreasing in turn
  * within a conversation; violations throw the same marked error so
  * [[graft.Backfill]] reroutes the conversation to the turn-ordered
  * single-window path.
  */
object SegmentedSweep {

  private final case class SegSeed(
      hasPrev: Boolean, prevTsSec: Long, prevRole: String, offset: Int)

  /** Driver-collect bound on the (conv, segment) chain seeds — ~100 MB
    * of seed map at ~50 B/entry, far above any sane dispatch (each
    * detection routes at most max(128, 4x cores) conversations).
    */
  private val MaxSeedRows = 2000000L

  // exchange row layout (field indexes)
  private val CONV = 0
  private val SEG = 1
  private val K = 2 // 1 = frame feeder, 2 = owner
  private val TURN = 3
  private val ROLE = 4
  private val TEXT = 5
  private val TOOL = 6
  private val TS = 7
  private val LEN = 8

  /** Build the fused segmented gold for the routed conversations.
    *
    * @param silverH  deduped full-width slice rows (conv_id, turn_idx,
    *                 role, text, tool, ts) of the routed conversations
    * @param ctx      committed lookback context rows with `_fw_len`
    *                 (text may be null — gold-sourced narrow reads)
    * @param state    latest per-conversation carried state (conv_id,
    *                 st_last_ts, st_last_role, st_sessions)
    * @param bronzeNarrow pre-dedup slice rows of the routed
    *                 conversations, NARROW columns only — the summary
    *                 pass dedups (ts, role) per turn itself
    */
  def gold(
      silverH: DataFrame,
      ctx: DataFrame,
      state: DataFrame,
      bronzeNarrow: DataFrame,
      gapSecs: Long,
      segmentSecs: Long,
      lookbackSecs: Long = 604800L,
      numPartitions: Option[Int] = None): DataFrame = {
    require(segmentSecs > 0)
    val spark = silverH.sparkSession
    val tsType = silverH.schema("ts").dataType

    // ---- narrow summary pass -> per-(conv, seg) chain seeds ----
    val tsSec = unix_timestamp(col("ts"))
    // dedup-lite: the SilverBuilder winner per (conv, turn) minimizes
    // (ts, role, tool, text); rows that survive to the text tiebreak
    // share (ts, role), so minimizing (ts, role, tool) yields the
    // winner's (ts, role) without ever reading text
    // production callers ([[graft.Backfill.heavyGold]]) pass the
    // CACHED deduped silver projection here — already unique per
    // (conv, turn) and hash-spread on exactly that key, so the min_by
    // collapses single-row groups with no extra exchange; raw-bronze
    // callers (specs, single-shot) still get the full dedup-lite
    val winners = bronzeNarrow
      .select(col("conv_id"), col("turn_idx"), tsSec.as("_t"), col("role"), col("tool"))
      .groupBy(col("conv_id"), col("turn_idx"))
      .agg(min_by(struct(col("_t"), col("role")),
        struct(col("_t"), col("role"), coalesce(col("tool"), lit("")))).as("_w"))
      .select(col("conv_id"), col("turn_idx"),
        col("_w._t").as("_t"), col("_w.role").as("role"))
    val wSeg = Window.partitionBy(col("conv_id"), col("_seg")).orderBy(col("turn_idx"))
    val r1 = winners
      .withColumn("_seg", floor(col("_t") / segmentSecs).cast("long"))
      .withColumn("_lag", lag(col("_t"), 1).over(wSeg))
    val summary = r1.groupBy(col("conv_id"), col("_seg")).agg(
      min_by(col("_t"), col("turn_idx")).as("_first_ts"),
      max_by(col("_t"), col("turn_idx")).as("_last_ts"),
      max_by(col("role"), col("turn_idx")).as("_last_role"),
      sum(when(col("_lag").isNotNull && col("_t") - col("_lag") > gapSecs, 1)
        .otherwise(0)).as("_breaks_within"))
    val wConv = Window.partitionBy(col("conv_id")).orderBy(col("_seg"))
    val chained = summary
      .join(state.select(col("conv_id"), unix_timestamp(col("st_last_ts")).as("_st_ts"),
        col("st_last_role").as("_st_role"), col("st_sessions").as("_st_sessions")),
        Seq("conv_id"), "left")
      .withColumn("_prev_ts", coalesce(lag(col("_last_ts"), 1).over(wConv), col("_st_ts")))
      .withColumn("_prev_role", coalesce(lag(col("_last_role"), 1).over(wConv), col("_st_role")))
      .withColumn("_boundary_gap", col("_first_ts") - col("_prev_ts"))
      .withColumn("_boundary_break",
        when(col("_boundary_gap").isNull || col("_boundary_gap") > gapSecs, 1).otherwise(0))
      .withColumn("_breaks_total", col("_boundary_break") + col("_breaks_within"))
      .withColumn("_offset", coalesce(col("_st_sessions"), lit(0)) +
        coalesce(sum(col("_breaks_total")).over(
          wConv.rowsBetween(Window.unboundedPreceding, -1)), lit(0)))
      .select(col("conv_id"), col("_seg"), col("_prev_ts"), col("_prev_role"),
        col("_offset").cast("int").as("_offset"))

    // the skew tail is tiny by construction — heavy convs x segments;
    // each detection routes at most max(128, 4x cores) conversations
    // and a slice spans O(slice/segment + lookback/segment) segments —
    // but a mis-tuned threshold routing half a corpus here would
    // otherwise OOM the driver SILENTLY inside collect(). Guard loudly first:
    // count the seed rows (cheap — the aggregate is narrow and reuses
    // the summary shuffle) and refuse past a bound that is orders
    // above any sane routing, then log the cardinality per routed
    // slice so dispatch regressions are visible in plain run output.
    val seedRows = chained.persist()
    val seedCount = seedRows.count()
    if (seedCount > MaxSeedRows) {
      seedRows.unpersist()
      throw new IllegalStateException(
        s"segmented sweep: $seedCount (conv, segment) chain seeds exceed the " +
          s"$MaxSeedRows driver-collect bound — the skew dispatch routed far too many " +
          "conversations heavy; raise the dispatch threshold (or segment width)")
    }
    println(s"[segmented] chain seeds: $seedCount (conv, segment) entries")
    if (seedCount == 0L) {
      // no routed conversation has a row in the slice (a carried heavy
      // id whose conversation went quiet): nothing to own, so no
      // exchange and no sweep tasks
      seedRows.unpersist()
      return spark.createDataFrame(
        java.util.Collections.emptyList[Row](), FusedSweep.goldSchemaFor(tsType))
    }
    val seeds: Map[(String, Long), SegSeed] = seedRows.collect().map { row =>
      val hasPrev = !row.isNullAt(2)
      (row.getString(0), row.getLong(1)) -> SegSeed(
        hasPrev,
        if (hasPrev) row.getLong(2) else 0L,
        if (row.isNullAt(3)) null else row.getString(3),
        row.getInt(4))
    }.toMap
    seedRows.unpersist()
    val seedsBc = spark.sparkContext.broadcast(seeds)

    // ---- the one full-width exchange ----
    val unioned = exchangeInput(silverH, ctx, seeds.keys.toSeq, segmentSecs, lookbackSecs)
    val numParts = numPartitions.getOrElse(
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val sorted = unioned
      .repartition(numParts, col("conv_id"), col("_seg"))
      .sortWithinPartitions(col("conv_id"), col("_seg"), col("ts"), col("turn_idx"), col("_k"))

    val outSchema = FusedSweep.goldSchemaFor(tsType)
    val gap = gapSecs
    val rdd = GraftInternalAccess.toInternalRdd(sorted.toDF()).mapPartitions { it =>
      new SegSweepIterator(it, gap, seedsBc.value)
    }
    GraftInternalAccess.internalCreateDataFrame(spark, rdd, outSchema)
  }

  /** Rows entering the one full-width exchange: owner rows at their own
    * segment, plus narrow feeders (no text) replicated ONLY into
    * segments where the same conversation actually has owner rows — a
    * broadcast left-semi join on the summary pass's (conv, seg) keys
    * (the skew tail by construction, same cardinality bound as the
    * chain-seed broadcast). A feeder landing in an owner-less segment
    * can never contribute to an emitted row; the previous
    * global-max-segment filter still shipped short conversations' dead
    * feeders into every later segment any OTHER routed conversation
    * owned.
    *
    * Slice rows feed the FOLLOWING `reach` segments (their own segment
    * sees them as owners); committed context rows feed their own
    * segment too, because the slice's first segment may straddle the
    * committed boundary.
    */
  private[graft] def exchangeInput(
      silverH: DataFrame,
      ctx: DataFrame,
      ownerSegs: Seq[(String, Long)],
      segmentSecs: Long,
      lookbackSecs: Long): DataFrame = {
    val spark = silverH.sparkSession
    import spark.implicits._
    val reach = ((lookbackSecs + segmentSecs - 1) / segmentSecs).toInt
    val ownerSeg = floor(unix_timestamp(col("ts")) / segmentSecs).cast("long")
    val ownerSegsDf = broadcast(ownerSegs.toDF("conv_id", "_seg"))
    def prune(df: DataFrame): DataFrame =
      df.join(ownerSegsDf, Seq("conv_id", "_seg"), "left_semi")

    def cols(seg: org.apache.spark.sql.Column, k: Int, text: org.apache.spark.sql.Column,
        len: org.apache.spark.sql.Column) = Seq(
      col("conv_id"), seg.as("_seg"), lit(k).as("_k"), col("turn_idx"),
      col("role"), text.as("text"), col("tool"), col("ts"), len.as("_len"))

    val owners = silverH.select(cols(ownerSeg, 2, col("text"),
      coalesce(length(col("text")).cast("long"), lit(0L))): _*)
    val feederSeg = explode(sequence(ownerSeg + 1, ownerSeg + reach)).as("_seg")
    val sliceFeeders = prune(silverH
      .select(cols(ownerSeg, 1, lit(null).cast("string"),
        coalesce(length(col("text")).cast("long"), lit(0L))).patch(1, Seq(feederSeg), 1): _*))
    val ctxLen = coalesce(col("_fw_len"), length(col("text")).cast("long"), lit(0L))
    val ctxOwnSeg = prune(
      ctx.select(cols(ownerSeg, 1, lit(null).cast("string"), ctxLen): _*))
    val ctxFeeders = prune(ctx
      .select(cols(ownerSeg, 1, lit(null).cast("string"), ctxLen).patch(1, Seq(feederSeg), 1): _*))

    owners
      .unionByName(sliceFeeders)
      .unionByName(ctxOwnSeg)
      .unionByName(ctxFeeders)
  }

  /** One buffered owner row of the current second's tie group. */
  private final class Pending(
      val row: InternalRow,
      val gapSecs: Long, val hasGap: Boolean,
      val prevRole: UTF8String,
      val sessionId: Int,
      val textLen: Long)

  /** The per-(conv, seg) sweep: rows sorted by (conv, seg, ts, turn).
    * Feeders (k=1) enter the frames only; owners (k=2) also advance
    * the lag chain + session counter (seeded per segment from the
    * broadcast chain) and emit. RANGE-frame tie semantics: all rows of
    * one epoch second feed the frames before any of them emits.
    */
  private final class SegSweepIterator(
      in: Iterator[InternalRow], gapSecs: Long,
      seeds: Map[(String, Long), SegSeed])
      extends Iterator[InternalRow] {

    private val f1h = new FrameQ(3600L, trackDistinct = false)
    private val f24h = new FrameQ(86400L)
    private val f7d = new FrameQ(604800L, trackDistinct = false)

    private var curConv: UTF8String = _
    private var curSeg = Long.MinValue
    private var haveKey = false
    private var sessions = 0
    private var hasPrev = false
    private var prevTsSec = 0L
    private var prevRole: UTF8String = _
    private var lastTsSec = Long.MinValue // monotonicity check (all rows)

    private val group = mutable.ArrayBuffer[Pending]()
    private var groupPos = 0
    private var groupTsSec = Long.MinValue
    private var groupOpen = false
    private var lookahead: InternalRow = _

    private def tsSecOf(r: InternalRow): Long = Math.floorDiv(r.getLong(TS), 1000000L)

    private def resetKey(conv: UTF8String, seg: Long): Unit = {
      curConv = conv
      curSeg = seg
      haveKey = true
      f1h.clear(); f24h.clear(); f7d.clear()
      lastTsSec = Long.MinValue
      groupTsSec = Long.MinValue
      groupOpen = false
      val seed = seeds.getOrElse((conv.toString, seg), SegSeed(false, 0L, null, 0))
      sessions = seed.offset
      hasPrev = seed.hasPrev
      prevTsSec = seed.prevTsSec
      prevRole = if (seed.prevRole == null) null else UTF8String.fromString(seed.prevRole)
    }

    private def nextRow(): InternalRow =
      if (lookahead != null) { val t = lookahead; lookahead = null; t }
      else if (in.hasNext) in.next()
      else null

    private def processRow(r: InternalRow, k: Int): Unit = {
      val t = tsSecOf(r)
      if (lastTsSec != Long.MinValue && t < lastTsSec)
        throw new IllegalStateException(
          "fused sweep precondition violated: ts decreases within conversation " +
            s"$curConv in the segmented sweep ($t < $lastTsSec)")
      lastTsSec = t
      if (t != groupTsSec) {
        groupTsSec = t
        f1h.evictBefore(t - f1h.spanSecs)
        f24h.evictBefore(t - f24h.spanSecs)
        f7d.evictBefore(t - f7d.spanSecs)
      }
      val len = r.getLong(LEN)
      val tool = if (r.isNullAt(TOOL)) null else r.getUTF8String(TOOL).toString
      f1h.add(t, len, tool); f24h.add(t, len, tool); f7d.add(t, len, tool)
      if (k == 2) {
        val g = if (hasPrev) t - prevTsSec else -1L
        val isBreak = !hasPrev || g > gapSecs
        if (isBreak) sessions += 1
        group += new Pending(r.copy(), g, hasPrev, prevRole, sessions, len)
        groupOpen = true
        prevTsSec = t
        prevRole = r.getUTF8String(ROLE).copy()
        hasPrev = true
      }
    }

    private def loadGroup(): Boolean = {
      group.clear(); groupPos = 0; groupOpen = false
      var r = nextRow()
      while (r != null) {
        val conv = r.getUTF8String(CONV)
        val seg = r.getLong(SEG)
        val newKey = !haveKey || seg != curSeg || !conv.equals(curConv)
        if (newKey && groupOpen) { lookahead = r.copy(); return true }
        if (newKey) resetKey(conv.copy(), seg)
        val t = tsSecOf(r)
        if (groupOpen && t != groupTsSec) { lookahead = r.copy(); return true }
        processRow(r, r.getInt(K))
        r = nextRow()
      }
      groupOpen
    }

    override def hasNext: Boolean = groupPos < group.length || loadGroup()

    override def next(): InternalRow = {
      if (groupPos >= group.length && !loadGroup())
        throw new NoSuchElementException("empty segmented sweep iterator")
      val p = group(groupPos); groupPos += 1
      emit(p)
    }

    // the emitted row object is REUSED across next() calls — standard
    // operator contract (the immediate consumer is an unsafe
    // projection that serializes each row before anything buffers it);
    // a fresh 16-slot array + GenericInternalRow per output row was
    // two allocations per row on the engine's hottest loop
    private val outArr = new Array[Any](16)
    private val outRow = new GenericInternalRow(outArr)

    private def emit(p: Pending): InternalRow = {
      val r = p.row
      val out = outArr
      out(0) = r.getUTF8String(CONV)
      out(1) = r.getInt(TURN)
      out(2) = r.getUTF8String(ROLE)
      out(3) = if (r.isNullAt(TEXT)) null else r.getUTF8String(TEXT)
      out(4) = if (r.isNullAt(TOOL)) null else r.getUTF8String(TOOL)
      out(5) = r.getLong(TS)
      out(6) = Math.floorDiv(r.getLong(TS), 86400000000L).toInt
      out(7) = f1h.cnt
      out(8) = f1h.toolCalls
      out(9) = f1h.sumLen
      out(10) = f24h.distinctCnt
      out(11) = f7d.sumLen.toDouble / f7d.cnt
      out(12) = p.prevRole
      out(13) = if (p.hasGap) p.gapSecs else null
      out(14) = p.sessionId
      out(15) = p.textLen
      outRow
    }
  }
}
