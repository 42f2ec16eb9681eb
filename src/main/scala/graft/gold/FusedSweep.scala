package graft.gold

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, GraftInternalAccess}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.schema.TranscriptSchema

/** The fused per-slice gold computation: ONE hash exchange on conv_id,
  * ONE sort, ONE InternalRow sweep producing the complete gold row —
  * dedup + cross-slice anti-join + the five trailing range features +
  * lag/gap + sessionization with carried state.
  *
  * Round 1 ran these as four separate stages (dedup window, context
  * anti-join, FastWindows repartition+sort+sweep, withState window),
  * i.e. 4+ shuffles and as many full passes per slice; the Amdahl
  * residue of that chain is what held N→4N scaling at 0.667
  * (BENCH/BASELINE.md). Here everything rides one exchange:
  *
  *  - state deltas enter the SAME shuffle as pseudo-rows (`_k = 0`)
  *    sorted before all data rows of their conversation — no separate
  *    state join;
  *  - current-slice bronze rows (`_k = 2`) are deduplicated by
  *    adjacency (sort prefix is (conv_id, turn_idx); the winner order
  *    (ts, role, tool, text) reproduces SilverBuilder.dedup), then
  *    emitted with all gold columns;
  *  - committed lookback events feed the sliding frames from a narrow
  *    side-stream ([[ctxStreamRows]]) and are not emitted.
  *
  * PRECONDITION (transcript contract): within a conversation, ts is
  * non-decreasing in turn_idx for the rows that survive dedup — true
  * of transcripts by construction (turn order IS time order). The
  * sweep validates this and throws if violated, in which case
  * [[graft.Backfill]] reroutes the offending conversations to
  * `heavyGold`: segment-chunked range features
  * (FastWindows.rangeFeaturesChunked) + the turn-ordered `withState`.
  *
  * Every other conversation rides this sweep, however large: a
  * conversation is one hash key, so a mega's task holds the mega's own
  * rows (the 8x over-partitioned exchange spreads the rest), and the
  * frames hold at most the 7-day lookback. The skew ladder
  * (docs/SKEW_LADDER.md) measured this path faster than a
  * time-segmented split of the mega up to 16M turns in one slice.
  *
  * Semantics are bit-identical to the declarative pipeline
  * (FusedSweepSpec property-tests equality including injected
  * anomalies, ts ties and session boundaries; BackfillSpec asserts
  * sliced == single-shot).
  */
object FusedSweep {

  /** Input schema of the unioned sweep rows (column order is binding
    * for the InternalRow field indexes below).
    */
  private[graft] def inputColumns(df: DataFrame): Seq[Column] = Seq(
    col("conv_id"), col("turn_idx"), col("role"), col("text"), col("tool"), col("ts"),
    col("_k"), col("_seq"), col("_sessions"))

  private val CONV = 0
  private val TURN = 1
  private val ROLE = 2
  private val TEXT = 3
  private val TOOL = 4
  private val TS = 5
  private val K = 6
  private val SEQ = 7
  private val SESSIONS = 8

  // the scalar-context side-stream's schema (one row per committed
  // lookback event, pre-narrowed: no text, ts already in epoch seconds)
  private val C_CONV = 0
  private val C_T = 1
  private val C_LEN = 2
  private val C_TOOL = 3

  /** State pseudo-rows from the delta chain (slice_start becomes the
    * `_seq` tiebreaker: the latest delta per conversation wins).
    */
  private[graft] def stateRows(deltas: DataFrame): DataFrame =
    deltas.select(
      col("conv_id"),
      col("st_last_turn_idx").as("turn_idx"),
      col("st_last_role").as("role"),
      lit(null).cast("string").as("text"),
      lit(null).cast("string").as("tool"),
      col("st_last_ts").as("ts"),
      lit(0).as("_k"),
      col("slice_start").cast("long").as("_seq"),
      col("st_sessions").as("_sessions"))

  private[graft] def bronzeRows(bronze: DataFrame): DataFrame =
    bronze.select(
      col("conv_id"), col("turn_idx"), col("role"), col("text"), col("tool"), col("ts"),
      lit(2).as("_k"), lit(0L).as("_seq"), lit(null).cast("int").as("_sessions"))

  /** The committed-context SIDE-STREAM ([[graft.Backfill]]'s rescan of
    * committed gold): one narrow row per committed lookback event,
    * read straight from the written gold table (conv_id + ts + the
    * persisted text_len + tool — parquet column pruning keeps the
    * dominant text column untouched). These rows seed the sliding
    * frames ONLY — the lag chain / session counter / dedup horizon
    * ride the state rows — so they are kept OFF the big exchange:
    * unioning them in would widen every data row. They shuffle
    * separately with the same explicit HashPartitioning(conv_id, n)
    * and merge into the sweep via zipPartitions, sorted by
    * (conv_id, t) — both shuffles route every conv_id to the same
    * partition index because both are numbered repartitions on the
    * same expression (AQE does not touch REPARTITION_BY_NUM).
    */
  private[graft] def ctxStreamRows(context: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.unix_timestamp
    context.select(
      col("conv_id"),
      unix_timestamp(col("ts")).as("t"),
      coalesce(col("text_len"), lit(0L)).as("len"),
      col("tool"))
  }

  private[graft] def emptyCtxStream(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("conv_id", StringType, nullable = false),
        StructField("t", LongType, nullable = false),
        StructField("len", LongType, nullable = false),
        StructField("tool", StringType, nullable = true))))

  /** The sweep's exchanged-and-sorted input stream: state pseudo-rows
    * first (turn forced to Int.MinValue), then bronze rows in
    * (turn, _k, _seq, ts, role, tool, text) order — the SilverBuilder
    * winner order, so dedup-by-adjacency keeps the right row.
    */
  private def sortedInput(
      state: DataFrame,
      bronze: DataFrame,
      numParts: Int): DataFrame =
    stateRows(state)
      .unionByName(bronzeRows(bronze))
      .repartition(numParts, col("conv_id"))
      .sortWithinPartitions(
        col("conv_id"),
        when(col("_k") === 0, lit(Int.MinValue)).otherwise(col("turn_idx")),
        col("_k"), col("_seq"),
        col("ts"), col("role"), coalesce(col("tool"), lit("")), col("text"))
      .select(inputColumns(null): _*)

  /** Gold output schema: silver columns + dt + the eight feature
    * columns, preserving the input's timestamp flavor (ntz/tz).
    */
  private[graft] def goldSchemaFor(tsType: DataType): StructType = goldSchema(tsType)

  private def goldSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("conv_id", StringType, nullable = true),
    StructField("turn_idx", IntegerType, nullable = true),
    StructField("role", StringType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("tool", StringType, nullable = true),
    StructField("ts", tsType, nullable = true),
    StructField("dt", DateType, nullable = true)) ++
    TranscriptSchema.goldFeatures.map(_.copy(nullable = true)) :+
    // the row's own text length, already computed by the sweep's frame
    // bookkeeping: persisting it lets every downstream derivation
    // (committed context, lineage) read narrow columns only — decoding the
    // dominant text column again just to take length() measured ~1.5 s
    // per bench slice
    StructField("text_len", LongType, nullable = true))

  /** Default sweep-exchange over-partitioning multiple of
    * `spark.sql.shuffle.partitions` (see the rationale at the
    * numParts computation in [[gold]]).
    */
  val OverPartitionFactor: Int = 8

  /** Run the fused sweep. `state` rows carry (conv_id, st_last_ts,
    * st_last_turn_idx, st_last_role, st_sessions, slice_start);
    * `bronze` is the validated current slice; `ctxStream` is the
    * committed lookback ([[ctxStreamRows]]). Emits gold rows for the
    * slice only.
    *
    * `stateSink`: when set, each sweep task also emits the slice's
    * per-conversation state delta as a parquet side-file — see
    * [[graft.meta.StateSideSink]]. This replaces the separate
    * post-write slice-meta aggregate job for every conversation that
    * rides the sweep.
    */
  def gold(
      state: DataFrame,
      bronze: DataFrame,
      gapSecs: Long = TranscriptSchema.DefaultSessionGapSecs,
      ctxStream: Option[DataFrame] = None,
      numPartitions: Option[Int] = None,
      stateSink: Option[graft.meta.StateSideSink] = None): DataFrame = {
    val spark = bronze.sparkSession
    val tsType = bronze.schema("ts").dataType
    // OverPartitionFactor x over-partitioning: a conversation is one
    // hash key, so the partition holding a mega carries the mega's rows
    // PLUS an average share — with partitions == cores that share is
    // 1/cores of the slice and the mega task straggles the stage
    // (measured at local[16]: max task 2x median). At 8x, the straggler
    // floor drops to the mega's own rows and the displaced average work
    // spreads over the extra waves (measured local[16] on 58.4M turns:
    // 91 s -> 67 s vs partitions == cores). Explicit numbered
    // repartition: AQE leaves REPARTITION_BY_NUM alone. Callers that
    // know the slice's data volume pass `numPartitions` instead, which
    // bounds output file count independently of core count
    // ([[graft.Backfill]] sizes it from the previous slice's bytes).
    val numParts = numPartitions.getOrElse(
      spark.conf.get("spark.sql.shuffle.partitions").toInt * OverPartitionFactor)
    val sorted = sortedInput(state, bronze, numParts)

    val ctxSorted = ctxStream.getOrElse(emptyCtxStream(spark))
      .repartition(numParts, col("conv_id"))
      .sortWithinPartitions(col("conv_id"), col("t"))

    val outSchema = goldSchema(tsType)
    val gap = gapSecs

    val sink = stateSink
    val rdd = GraftInternalAccess.toInternalRdd(sorted.toDF())
      .zipPartitions(GraftInternalAccess.toInternalRdd(ctxSorted.toDF())) {
        (data, cx) =>
          val writer = sink.map { s =>
            val w = new graft.meta.StateSideWriter(s, outSchema)
            // close on task completion: commits the parquet footer on
            // success; on failure leaves a partial the retry overwrites
            Option(org.apache.spark.TaskContext.get())
              .foreach(_.addTaskCompletionListener[Unit](_ => w.close()))
            w
          }.orNull
          new SweepIterator(data, cx, gap, writer)
      }
    GraftInternalAccess.internalCreateDataFrame(spark, rdd, outSchema)
  }

  /** One buffered emit-eligible row of the current ts-second tie group:
    * the copied UnsafeRow plus its already-resolved lag/session values
    * (lag is row-order semantics, frames are group semantics).
    */
  private final class Pending(
      val row: InternalRow,
      val gapSecs: Long, val hasGap: Boolean,
      val prevRole: UTF8String,
      val sessionId: Int,
      val textLen: Long)

  /** The sweep itself. Input rows are sorted by
    * (conv, turn-with-state-first, _k, _seq, ts, role, tool, text).
    * Per conversation it maintains the three ring-buffer frames
    * ([[FrameQ]]), the lag chain, and the session counter; all rows of
    * one epoch-second enter the frames before any of them is emitted
    * (RANGE-frame tie semantics), so a tie group is buffered (copied)
    * until its last member has been seen.
    */
  private final class SweepIterator(
      in: Iterator[InternalRow],
      ctx: Iterator[InternalRow], gapSecs: Long,
      writer: graft.meta.StateSideWriter = null)
      extends Iterator[InternalRow] {

    // per-conversation accepted-row running state for the side-files:
    // the last accepted row's identity fields plus its session counter,
    // flushed at conversation end — exactly what the stateDeltaFromGold
    // aggregate recomputes from the files
    private var accAny = false
    private var accTsUs = 0L
    private var accTurn = 0
    private var accRole: UTF8String = _
    private var accSession = 0
    // ... and the conversation's newest EMITTED gold row by
    // (ts, turn_idx), the state row's `latest`. Rows leave in turn
    // order, so a row at an equal or later ts replaces the kept one
    // (the monotonicity check works in whole seconds; this keeps the
    // exact order within one). A copy of the emit array: its
    // references point into the group's copied input rows.
    private val latestOut = new Array[Any](16)
    private var latestTsUs = Long.MinValue

    private def flushAcc(): Unit =
      if (accAny) {
        writer.writeState(curConv, accTsUs, accTurn, accRole, accSession,
          new GenericInternalRow(latestOut.clone()))
        accAny = false
      }

    // single-row lookahead into the (conv, t)-sorted side-stream;
    // always a private copy (UnsafeRow buffers are reused by the
    // underlying iterator)
    private var ctxLookahead: InternalRow = _
    private var ctxDrained = false

    private def nextCtx(): InternalRow =
      if (ctxLookahead != null) { val t = ctxLookahead; ctxLookahead = null; t }
      else if (ctx.hasNext) ctx.next()
      else null

    /** Apply every committed-context row of `conv` to the frames;
      * called once per conversation, after its state rows and before
      * its first data row. The side-stream is sorted by (conv_id, t),
      * so the entries go straight into the ring buffers in ts order —
      * O(1) extra memory no matter how large the conversation's
      * committed context is, also for a ts-inverted conversation.
      * Rows of earlier conversations (inactive this slice) are
      * skipped; the first row of a later conversation is pushed back.
      * Both streams sort conv_id with the same binary UTF8String
      * ordering, so a single forward merge suffices.
      */
    private def drainCtx(conv: UTF8String): Unit = {
      var c = nextCtx()
      while (c != null) {
        val cmp = c.getUTF8String(C_CONV).compareTo(conv)
        if (cmp > 0) { ctxLookahead = c.copy(); c = null }
        else {
          if (cmp == 0) feedCtx(c)
          c = nextCtx()
        }
      }
    }

    /** Feed one committed event's (ts, len, tool) to the frames. The
      * lag chain and the session counter are NOT touched — the state
      * rows carry them (st_last_ts/role/sessions equal the last
      * committed event's).
      */
    private def feedCtx(c: InternalRow): Unit = {
      if (!sawState)
        throw new IllegalStateException(
          "fused sweep: scalar context without carried state for conversation " +
            s"$curConv — context seeds frames only; pass the state delta chain")
      val t = c.getLong(C_T)
      val l = c.getLong(C_LEN)
      val tool = if (c.isNullAt(C_TOOL)) null else c.getUTF8String(C_TOOL).toString
      f1h.add(t, l, tool); f24h.add(t, l, tool); f7d.add(t, l, tool)
      prevDataTsSec = t
      hasPrevData = true
    }

    private val f1h = new FrameQ(3600L, trackDistinct = false)
    private val f24h = new FrameQ(86400L)
    private val f7d = new FrameQ(604800L, trackDistinct = false)

    private var curConv: UTF8String = _
    private var sawState = false
    private var sessions = 0
    private var hasPrev = false       // lag chain seeded (state/slice)
    private var prevTsSec = 0L
    private var prevRole: UTF8String = _
    private var hasPrevData = false   // last DATA row's second (monotonicity check)
    private var prevDataTsSec = 0L
    private var lastTurn = 0
    private var hasLastTurn = false
    // highest committed turn_idx from the state rows: the cross-slice
    // dedup horizon. Committed slices hold a turn-prefix (ts is
    // non-decreasing in turn and slices partition by ts), so a bronze
    // row with turn_idx <= stateTurn is a re-send of committed data —
    // dropped without needing the committed rows themselves in the
    // lookback (this is what lets narrow context replace raw rows).
    private var stateTurn = Int.MinValue

    // current emit group (same conv, same epoch second, _k == 2 rows)
    private val group = mutable.ArrayBuffer[Pending]()
    private var groupPos = 0
    private var groupTsSec = Long.MinValue
    private var groupOpen = false

    // single-row pushback (the row that terminated the previous group;
    // always a private copy)
    private var lookahead: InternalRow = _

    private def resetConv(conv: UTF8String): Unit = {
      curConv = conv
      accAny = false
      accRole = null
      latestTsUs = Long.MinValue
      sawState = false
      sessions = 0
      hasPrev = false
      prevRole = null
      hasPrevData = false
      hasLastTurn = false
      stateTurn = Int.MinValue
      ctxDrained = false
      groupTsSec = Long.MinValue
      groupOpen = false
      f1h.clear(); f24h.clear(); f7d.clear()
    }

    private def tsSecOf(r: InternalRow): Long = Math.floorDiv(r.getLong(TS), 1000000L)

    private def nextRow(): InternalRow =
      if (lookahead != null) { val t = lookahead; lookahead = null; t }
      else if (in.hasNext) in.next()
      else null

    /** Process one slice row: frames, lag chain, session counter,
      * group buffering.
      */
    private def processData(r: InternalRow): Unit = {
      val t = tsSecOf(r)
      if (hasPrevData && t < prevDataTsSec)
        throw new IllegalStateException(
          "fused sweep precondition violated: ts decreases within conversation " +
            s"$curConv at turn ${r.getInt(TURN)} ($t < $prevDataTsSec); " +
            "use the declarative SilverBuilder/FeatureWindows path")
      if (t != groupTsSec) {
        groupTsSec = t
        f1h.evictBefore(t - f1h.spanSecs)
        f24h.evictBefore(t - f24h.spanSecs)
        f7d.evictBefore(t - f7d.spanSecs)
      }
      val textLen = if (r.isNullAt(TEXT)) 0L else r.getUTF8String(TEXT).numChars().toLong
      val tool = if (r.isNullAt(TOOL)) null else r.getUTF8String(TOOL).toString
      f1h.add(t, textLen, tool); f24h.add(t, textLen, tool); f7d.add(t, textLen, tool)

      val g = if (hasPrev) t - prevTsSec else -1L
      val isBreak = !hasPrev || g > gapSecs
      if (isBreak) sessions += 1
      group += new Pending(r.copy(), g, hasPrev, prevRole, sessions, textLen)
      groupOpen = true
      prevTsSec = t
      prevRole = r.getUTF8String(ROLE).copy()
      hasPrev = true
      prevDataTsSec = t
      hasPrevData = true
      if (writer != null) {
        accAny = true
        accTsUs = r.getLong(TS)
        accTurn = r.getInt(TURN)
        accRole = prevRole
        accSession = sessions
      }
    }

    /** Fill `group` with the next emit group. A group is complete when
      * a row of a different conversation or a later second appears (it
      * is pushed back), or at EOF. Returns false only at EOF with
      * nothing to emit.
      */
    private def loadGroup(): Boolean = {
      group.clear(); groupPos = 0; groupOpen = false
      var r = nextRow()
      while (r != null) {
        val conv = r.getUTF8String(CONV)
        val newConv = curConv == null || !conv.equals(curConv)
        if (newConv && groupOpen) { lookahead = r.copy(); return true }
        if (newConv) {
          if (writer != null) flushAcc() // previous conversation's state
          resetConv(conv.copy())
        }
        if (r.getInt(K) == 0) {
          // state pseudo-row: seed lag chain + session counter (latest
          // delta wins — rows arrive in slice_start order)
          sessions = if (r.isNullAt(SESSIONS)) 0 else r.getInt(SESSIONS)
          prevTsSec = tsSecOf(r)
          prevRole = r.getUTF8String(ROLE).copy()
          hasPrev = true
          sawState = true
          if (r.getInt(TURN) > stateTurn) stateTurn = r.getInt(TURN)
        } else {
          if (!ctxDrained) { drainCtx(curConv); ctxDrained = true }
          val turn = r.getInt(TURN)
          if (turn <= stateTurn) {
            // re-send of a committed turn (possibly beyond the frame
            // lookback): dropped — the committed row already emitted
            // in its own slice, exactly the single-shot winner
          } else if (hasLastTurn && turn == lastTurn) {
            // duplicate of an already-accepted (conv, turn): dropped —
            // sort order makes the SilverBuilder winner arrive first
          } else {
            val t = tsSecOf(r)
            if (groupOpen && t != groupTsSec) { lookahead = r.copy(); return true }
            lastTurn = turn; hasLastTurn = true
            processData(r)
          }
        }
        r = nextRow()
      }
      // EOF: the last conversation's state, once its last group has
      // been emitted (a still-open group flushes on the next call)
      if (writer != null && !groupOpen) flushAcc()
      groupOpen
    }

    override def hasNext: Boolean = groupPos < group.length || loadGroup()

    override def next(): InternalRow = {
      if (groupPos >= group.length && !loadGroup())
        throw new NoSuchElementException("empty sweep iterator")
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
      if (writer != null && r.getLong(TS) >= latestTsUs) {
        latestTsUs = r.getLong(TS)
        System.arraycopy(out, 0, latestOut, 0, out.length)
      }
      outRow
    }
  }
}
