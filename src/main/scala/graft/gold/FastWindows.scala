package graft.gold

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** O(n) streaming computation of the trailing range-frame features.
  *
  * Why this exists: Spark's WindowExec recomputes non-invertible
  * aggregates (collect_set) from scratch for every row of a sliding
  * range frame — O(rows x frame_size). On a 10^5-turn agent
  * conversation with ~5400 turns per 24 h frame that is ~10^9 buffer
  * rebuild operations per conversation; at 10^12-turn scale it is
  * unrunnable. The textbook fix (what Flink's sliding windows do) is a
  * two-pointer sweep: rows enter once, are evicted once, and a
  * value->count map maintains the exact distinct count — O(n) total.
  *
  * Spark offers no invertible-sliding-window hook (AQE can't split
  * window partitions either), so this drops to a sorted mapPartitions
  * — the documented last resort, taken deliberately here and ONLY
  * here. Semantics are bit-identical to
  * [[FeatureWindows.rangeFeatures]] (property-tested, incl. ts ties):
  * frames are [t-N, t] inclusive on whole epoch seconds, and tie rows
  * at the same second all see the full tie group, exactly like Spark's
  * RANGE frame.
  *
  * Memory: the 7d deque holds only that conversation's last-7-days
  * rows as 24-byte entries; the chunked variant
  * ([[rangeFeaturesChunked]]: time-segment salting, `extraPartCols`)
  * bounds it for pathological single-conversation densities.
  */
// One ring buffer per frame — primitive arrays, zero per-row
// allocation on the add/evict path (the sweep is the engine's
// hottest loop; boxed deques double its memory-bandwidth cost).
// Shared by the standalone FastWindows sweep and the fused backfill
// sweep ([[FusedSweep]]).
//
// `trackDistinct = false` skips the value->count distinct map
// entirely: only the 24h frame's distinctCnt is ever emitted, yet
// every frame was paying the hash update (plus its Option/boxed-Int
// allocations) per tool-carrying add AND evict — two thirds of the
// sweep's hash work maintained counts nobody read.
private[gold] final class FrameQ(val spanSecs: Long, trackDistinct: Boolean = true) {
  private var cap = 1024
  private var ts = new Array[Long](cap)
  private var len = new Array[Long](cap)
  private var tool = new Array[String](cap)
  private var head = 0 // index of oldest
  private var size = 0
  var sumLen = 0L
  var toolCalls = 0L
  val distinct = new mutable.HashMap[String, Int]()
  def cnt: Long = size.toLong
  def distinctCnt: Int = distinct.size
  private def grow(): Unit = {
    val ncap = cap * 2
    val (nts, nlen, ntool) = (new Array[Long](ncap), new Array[Long](ncap), new Array[String](ncap))
    var i = 0
    while (i < size) { val j = (head + i) % cap; nts(i) = ts(j); nlen(i) = len(j); ntool(i) = tool(j); i += 1 }
    ts = nts; len = nlen; tool = ntool; head = 0; cap = ncap
  }
  def add(t: Long, l: Long, tl: String): Unit = {
    if (size == cap) grow()
    val tail = (head + size) % cap
    ts(tail) = t; len(tail) = l; tool(tail) = tl
    size += 1; sumLen += l
    if (tl != null) {
      toolCalls += 1
      if (trackDistinct)
        distinct.updateWith(tl) { case Some(c) => Some(c + 1); case None => Some(1) }
    }
  }
  def evictBefore(minTs: Long): Unit = {
    while (size > 0 && ts(head) < minTs) {
      val l = len(head); val tl = tool(head)
      tool(head) = null
      head = (head + 1) % cap; size -= 1; sumLen -= l
      if (tl != null) {
        toolCalls -= 1
        if (trackDistinct)
          distinct.updateWith(tl) { case Some(1) => None; case Some(c) => Some(c - 1); case None => None }
      }
    }
  }
  def clear(): Unit = {
    var i = 0
    while (i < size) { tool((head + i) % cap) = null; i += 1 }
    head = 0; size = 0; sumLen = 0L; toolCalls = 0L; distinct.clear()
  }
}

object FastWindows {

  private val featureFields: Seq[StructField] = Seq(
    StructField("turns_cnt_1h", LongType, nullable = false),
    StructField("tool_calls_1h", LongType, nullable = false),
    StructField("chars_sum_1h", LongType, nullable = false),
    StructField("tool_distinct_24h", IntegerType, nullable = false),
    StructField("avg_chars_7d", DoubleType, nullable = false))

  private final class SlidingState {
    val f1h = new FrameQ(3600L, trackDistinct = false)
    val f24h = new FrameQ(86400L)
    val f7d = new FrameQ(604800L, trackDistinct = false)
    def evictAll(t: Long): Unit = {
      f1h.evictBefore(t - f1h.spanSecs)
      f24h.evictBefore(t - f24h.spanSecs)
      f7d.evictBefore(t - f7d.spanSecs)
    }
    def addOne(t: Long, l: Long, tool: String): Unit = {
      f1h.add(t, l, tool); f24h.add(t, l, tool); f7d.add(t, l, tool)
    }
  }

  /** Append the five range features to `silver` (any extra columns ride
    * along). `extraPartCols` adds salt columns (e.g. a time segment) to
    * the physical partitioning for skew splitting.
    */
  def rangeFeatures(silver: DataFrame, extraPartCols: Seq[String] = Nil): DataFrame = {
    val inSchema = silver.schema
    val outSchema = StructType(inSchema.fields ++ featureFields)
    val partCols = (Seq("conv_id") ++ extraPartCols).map(col)
    val keyIdx = (Seq("conv_id") ++ extraPartCols).map(inSchema.fieldIndex)
    val tsIdx = inSchema.fieldIndex("ts")
    val textIdx = inSchema.fieldIndex("text")
    val toolIdx = inSchema.fieldIndex("tool")
    // optional precomputed length column: context rows sourced from the
    // gold table carry text_len instead of the text itself, so the scan
    // never decodes the dominant column just to take a length
    val lenIdx: Int =
      if (inSchema.fieldNames.contains("_fw_len")) inSchema.fieldIndex("_fw_len") else -1

    val sorted = silver
      .repartition(partCols: _*)
      .sortWithinPartitions(partCols :+ unix_timestamp(col("ts")) :+ col("turn_idx"): _*)

    val inArity = inSchema.length
    sorted.mapPartitions { it =>
      val in = it.buffered
      new Iterator[Row] {
        private var state: SlidingState = _
        private var curKey: Seq[Any] = null
        // rows of the current (key, tsSec) tie group, pre-aggregated
        private val group = mutable.ArrayBuffer[Row]()
        private var groupPos = 0

        private def tsSec(r: Row): Long = r.getTimestamp(tsIdx).getTime / 1000L
        private def keyOf(r: Row): Seq[Any] = keyIdx.map(r.get)

        private def loadGroup(): Unit = {
          group.clear(); groupPos = 0
          if (!in.hasNext) return
          val first = in.next()
          val k = keyOf(first)
          val t = tsSec(first)
          if (curKey == null || k != curKey) { state = new SlidingState; curKey = k }
          group += first
          while (in.hasNext && keyOf(in.head) == k && tsSec(in.head) == t)
            group += in.next()
          // the whole tie group enters the frames before any member is
          // emitted — RANGE-frame semantics at equal order keys
          state.evictAll(t)
          var i = 0
          while (i < group.length) {
            val r = group(i)
            val len =
              if (lenIdx >= 0) { if (r.isNullAt(lenIdx)) 0L else r.getLong(lenIdx) }
              else {
                val text = r.getString(textIdx)
                if (text == null) 0L else text.codePointCount(0, text.length).toLong
              }
            state.addOne(t, len, if (r.isNullAt(toolIdx)) null else r.getString(toolIdx))
            i += 1
          }
        }

        override def hasNext: Boolean = groupPos < group.length || in.hasNext
        override def next(): Row = {
          if (groupPos >= group.length) loadGroup()
          val r = group(groupPos); groupPos += 1
          val out = new Array[Any](inArity + 5)
          var i = 0
          while (i < inArity) { out(i) = r.get(i); i += 1 }
          out(inArity) = state.f1h.cnt
          out(inArity + 1) = state.f1h.toolCalls
          out(inArity + 2) = state.f1h.sumLen
          out(inArity + 3) = state.f24h.distinct.size
          out(inArity + 4) = state.f7d.sumLen.toDouble / state.f7d.cnt
          new org.apache.spark.sql.catalyst.expressions.GenericRow(out)
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Skew-split exact variant: time-segment salting with lookback
    * context on top of the O(n) sweep — a mega-conversation becomes
    * span/segmentSecs parallel tasks. Each row is salted by its segment
    * `floor(unix_ts / segmentSecs)` and replicated into the following
    * `ceil(maxLookback / segmentSecs)` segments as context; the sweep
    * runs per (conv_id, segment) and keeps each segment's owner rows.
    * Every trailing frame of an owner row lies within
    * [segStart - maxLookback, ts], so every frame aggregate is exact,
    * at a replication factor of 1 + maxLookback/segmentSecs.
    */
  def rangeFeaturesChunked(
      silver: DataFrame,
      segmentSecs: Long = 604800L,
      maxLookbackSecs: Long = 604800L): DataFrame = {
    val reach = ((maxLookbackSecs + segmentSecs - 1) / segmentSecs).toInt
    val ownerSeg = floor(unix_timestamp(col("ts")) / segmentSecs).cast("long")
    val replicated = silver
      .withColumn("_owner_seg", ownerSeg)
      .withColumn("_seg", explode(sequence(col("_owner_seg"), col("_owner_seg") + reach)))
    rangeFeatures(replicated, extraPartCols = Seq("_seg"))
      .filter(col("_seg") === col("_owner_seg"))
      .drop("_seg", "_owner_seg")
  }
}
