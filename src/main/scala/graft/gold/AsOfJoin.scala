package graft.gold

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, GraftInternalAccess}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, InterpretedOrdering, SortOrder}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Point-in-time (as-of) join: for each query (conv_id, ts_q), return
  * the payload of the latest history row with `ts <= ts_q` (ties at
  * equal ts: the highest turn_idx wins, and history rows at exactly
  * ts_q ARE visible — matching the inclusive upper bound of the
  * reference's window frames).
  *
  * This single operator replaces the reference's entire SageMaker
  * Feature Store surface: the online `get_record` latest-row lookup
  * (feature_store/ingest_features.py:107-122) is [[latestPerKey]]
  * (= as-of at ts = +inf) over the whole table and [[latestForKeys]]
  * for a small key set, and offline point-in-time training joins
  * against the append log (register_feature_groups.py:44-48) are
  * [[asOf]] at historical timestamps. Zero temporal leakage by
  * construction.
  *
  * Physical shape (scale): tag sides, union, ONE hash exchange on
  * conv_id + one local sort by (ts, side, turn_idx), then a running
  * `last(payload, ignoreNulls)` — i.e. a sort-merge as-of. No
  * driver-side collect (the reference's `toPandas()`,
  * silver_and_gold.py:143, is the anti-pattern this deletes). Cost is
  * O((|Q|+|H|) log) per partition and broadcast-free, so it survives
  * 100 TB histories; skewed mega-conversations follow the same
  * time-segment lever as the window stage ([[asOfSegmented]]).
  *
  * Keyed lookups ([[latestForKeys]]) take the other shape: the key set
  * is small, so it goes to the driver as a literal `conv_id IN (...)`
  * that the parquet scan pushes down, each scan task keeps the newest
  * row per key, and the driver merges the per-task rows into an eager
  * local result. One Spark job, no shuffle, no window.
  */
object AsOfJoin {

  /** As-of join `queries` (must have conv_id, ts; other columns pass
    * through) against `history` (must have conv_id, ts, turn_idx).
    * `payloadCols` are the history columns to surface; they must not
    * collide with query column names. Queries with no history row at or
    * before their ts get null payloads.
    */
  def asOf(queries: DataFrame, history: DataFrame, payloadCols: Seq[String]): DataFrame = {
    val hist = history.select(
      col("conv_id"), col("ts"),
      lit(0).as("_is_query"),
      col("turn_idx").cast("int").as("_turn"),
      struct(payloadCols.map(col): _*).as("_payload"))
    val qs = queries.select(
      col("conv_id"), col("ts"),
      lit(1).as("_is_query"),
      lit(Int.MaxValue).as("_turn"),
      struct(queries.columns.map(col).toSeq: _*).as("_q"))
    // allowMissingColumns fills _payload on the query side (and _q on
    // the history side) with typed nulls — no manual schema plumbing.
    val unioned = hist.unionByName(qs, allowMissingColumns = true)
    val w = Window
      .partitionBy(col("conv_id"))
      .orderBy(col("ts"), col("_is_query"), col("_turn"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("_feat", last(col("_payload"), ignoreNulls = true).over(w))
      .filter(col("_is_query") === 1)
      .select(col("_q.*") +: payloadCols.map(c => col(s"_feat.$c").as(c)): _*)
  }

  /** Time-segmented as-of join — the skew lever for mega-conversation
    * histories (north rule: "salting for skewed mega-conversations").
    * [[asOf]]'s running `last` windows over bare conv_id, so a 10^8-row
    * conversation's history+queries serialize on one task. Here the
    * union is windowed per (conv_id, segment) — parallel across
    * segments — and cross-segment carry is resolved on a TINY summary
    * table (one row per non-empty (conv, segment)): the latest payload
    * of each segment, chained with a running `last` over the segment
    * sequence, broadcast back, and coalesced under each segment's
    * within-window result. Row-identical to [[asOf]]
    * (AsOfJoinSpec property), wall-clock bounded by the densest
    * segment instead of the densest conversation.
    */
  def asOfSegmented(
      queries: DataFrame,
      history: DataFrame,
      payloadCols: Seq[String],
      segmentSecs: Long = 604800L): DataFrame = {
    val seg = floor(unix_timestamp(col("ts")) / segmentSecs).cast("long").as("_seg")
    val hist = history.select(
      col("conv_id"), col("ts"), seg,
      lit(0).as("_is_query"),
      col("turn_idx").cast("int").as("_turn"),
      struct(payloadCols.map(col): _*).as("_payload"))
    val qs = queries.select(
      col("conv_id"), col("ts"), seg,
      lit(1).as("_is_query"),
      lit(Int.MaxValue).as("_turn"),
      struct(queries.columns.map(col).toSeq: _*).as("_q"))
    val unioned = hist.unionByName(qs, allowMissingColumns = true)

    // within-segment running last (parallel across segments)
    val wSeg = Window
      .partitionBy(col("conv_id"), col("_seg"))
      .orderBy(col("ts"), col("_is_query"), col("_turn"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = unioned.withColumn("_feat_in", last(col("_payload"), ignoreNulls = true).over(wSeg))

    // cross-segment carry: latest history payload per (conv, seg),
    // chained over the conversation's segment sequence. Derived from
    // `within` so its (conv, _seg) exchange is REUSED (no second
    // history scan); one row per segment that appears in the union —
    // history or query — so query-only segments still get a carry.
    // max_by ignores null ordering keys, so query rows never win.
    val segLast = within.groupBy(col("conv_id"), col("_seg"))
      .agg(max_by(col("_payload"),
        when(col("_is_query") === 0, struct(col("ts"), col("_turn")))).as("_seg_last"))
    val wConv = Window.partitionBy(col("conv_id")).orderBy(col("_seg"))
    val carry = segLast
      .withColumn("_carry", last(col("_seg_last"), ignoreNulls = true)
        .over(wConv.rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("conv_id"), col("_seg"), col("_carry"))

    // summary is O(conv x active segments) — small but not guaranteed
    // broadcastable at 10^9 conversations; AQE picks broadcast when it
    // fits, a co-partitioned join otherwise
    within
      .join(carry, Seq("conv_id", "_seg"))
      .withColumn("_feat", coalesce(col("_feat_in"), col("_carry")))
      .filter(col("_is_query") === 1)
      .select(col("_q.*") +: payloadCols.map(c => col(s"_feat.$c").as(c)): _*)
  }

  /** Size-dispatching as-of join: conversations whose history exceeds
    * `heavyThreshold` rows route to [[asOfSegmented]], the rest take
    * the plain [[asOf]]. The measured crossover on this host is
    * ~10^7 rows per conversation (Bench.scala): below it a running
    * `last` over one conversation is a sub-second task and the
    * segmented form's per-(conv, segment) summary + join overhead
    * only slows things down; above it the plain form serializes a
    * mega-conversation on one task while segments parallelize.
    *
    * `convSizes` (optional, columns `conv_id` + `count`) supplies the
    * per-conversation history sizes from metadata — e.g. the
    * checkpoint state's `st_last_turn_idx + 1`, which is O(convs)
    * tiny — so the dispatch costs no scan of the history itself.
    * Without it, one narrow map-combined count aggregate runs.
    * Heavy ids are the skew tail (tiny by construction): they land
    * driver-side and split the inputs with isin predicates.
    */
  def asOfAuto(
      queries: DataFrame,
      history: DataFrame,
      payloadCols: Seq[String],
      heavyThreshold: Long = 10000000L,
      segmentSecs: Long = 604800L,
      convSizes: Option[DataFrame] = None): DataFrame = {
    val sizes = convSizes.getOrElse(history.groupBy(col("conv_id")).count())
    val heavy = sizes.filter(col("count") > heavyThreshold)
      .select(col("conv_id")).distinct().collect().map(_.getString(0)).toSeq
    if (heavy.isEmpty) asOf(queries, history, payloadCols)
    else {
      val isHeavy = col("conv_id").isin(heavy: _*)
      asOf(queries.filter(!isHeavy), history.filter(!isHeavy), payloadCols)
        .unionByName(asOfSegmented(
          queries.filter(isHeavy), history.filter(isHeavy), payloadCols, segmentSecs))
    }
  }

  /** Brute-force oracle formulation (tests only): join every history
    * row at or before the query ts, keep max (ts, turn_idx) via max_by.
    * Semantically identical to [[asOf]]; quadratic in conversation
    * size, so never on the hot path.
    */
  def asOfOracle(queries: DataFrame, history: DataFrame, payloadCols: Seq[String]): DataFrame = {
    val q = queries.withColumn("_qid", monotonically_increasing_id())
    val h = history.select(
      col("conv_id").as("_h_conv"), col("ts").as("_h_ts"),
      col("turn_idx").as("_h_turn"),
      struct(payloadCols.map(col): _*).as("_payload"))
    val joined = q.join(h, q("conv_id") === col("_h_conv") && col("_h_ts") <= q("ts"), "left")
    joined
      .groupBy((col("_qid") +: queries.columns.map(q(_))): _*)
      .agg(max_by(col("_payload"), struct(col("_h_ts"), col("_h_turn"))).as("_feat"))
      .select(queries.columns.map(col) ++ payloadCols.map(c => col(s"_feat.$c").as(c)): _*)
  }

  /** J2: latest feature row per conv_id (the online-store read,
    * ingest_features.py:107-122) — as-of at ts = +inf.
    */
  def latestPerKey(history: DataFrame): DataFrame = {
    val w = Window
      .partitionBy(col("conv_id"))
      .orderBy(col("ts").desc, col("turn_idx").desc)
    history
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** J2 batched (`batch_get_record`, ingest_features.py:124-143): the
    * latest row per key, restricted to a small key set, in ONE Spark
    * job. The key frame's distinct non-null conv_ids are collected on
    * the driver (a `batch_get_record`-sized set, not a table: they
    * become one literal `conv_id IN (...)` filter that the parquet scan
    * prunes row groups with; a local key frame collects without a job),
    * each scan task keeps the newest row per key by (ts, turn_idx), and
    * the driver merges those per-task rows.
    *
    * The result is eager: a local DataFrame (`LocalRelation`) in
    * `history`'s column order. Collecting it launches no further job,
    * and no action on it rescans `history`. Null keys match nothing; an
    * empty key set returns zero rows without a job. For a whole-table
    * read use [[latestPerKey]].
    */
  def latestForKeys(history: DataFrame, keys: DataFrame): DataFrame = {
    val ids = keys.select(col("conv_id")).collect().flatMap(r => Option(r.getString(0))).distinct
    val newest = newestPerKey(history.schema)
    val perTask =
      if (ids.isEmpty) Array.empty[InternalRow]
      else GraftInternalAccess.toInternalRdd(history.filter(col("conv_id").isin(ids.toSeq: _*)))
        .mapPartitions(rows => newest(rows).iterator).collect()
    GraftInternalAccess.localCreateDataFrame(
      history.sparkSession, newest(perTask.iterator).toSeq, history.schema)
  }

  /** Reduces InternalRows in `schema` to the newest row per conv_id by
    * (ts, turn_idx) ascending, nulls lowest — [[latestPerKey]]'s order.
    * Kept rows are copied (scan iterators reuse their row buffer).
    */
  private def newestPerKey(schema: StructType): Iterator[InternalRow] => Iterable[InternalRow] = {
    val key = schema.fieldIndex("conv_id")
    val order = new InterpretedOrdering(Seq("ts", "turn_idx").map { c =>
      val i = schema.fieldIndex(c)
      SortOrder(BoundReference(i, schema(i).dataType, nullable = true), Ascending)
    })
    rows => {
      val latest = mutable.HashMap.empty[UTF8String, InternalRow]
      rows.foreach { r =>
        if (latest.get(r.getUTF8String(key)).forall(order.lt(_, r))) {
          val kept = r.copy()
          latest(kept.getUTF8String(key)) = kept
        }
      }
      latest.values
    }
  }
}
