package graft.gold

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, GraftInternalAccess}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.meta.Checkpoint

/** Point-in-time (as-of) join: for each query (conv_id, ts_q), return
  * the payload of the latest history row with `ts <= ts_q` (ties at
  * equal ts: the highest turn_idx wins, and history rows at exactly
  * ts_q ARE visible — matching the inclusive upper bound of the
  * reference's window frames).
  *
  * The reference keeps two stores (SageMaker Feature Store), and so
  * does this engine:
  *  - the OFFLINE store is the gold append log: point-in-time training
  *    joins against it (register_feature_groups.py:44-48) are [[asOf]]
  *    at historical timestamps, and a whole-table latest read is
  *    [[latestPerKey]] (= as-of at ts = +inf);
  *  - the ONLINE store is the backfill's per-conversation state table
  *    (`_meta/conv_state`, one row per conversation per slice, each
  *    carrying the conversation's newest gold row): the `get_record`
  *    latest-row lookup (feature_store/ingest_features.py:107-122) for
  *    a small key set is [[latestForKeys]], answered from it on the
  *    driver with no Spark job.
  * Zero temporal leakage by construction.
  *
  * Physical shape (scale): tag sides, union, ONE hash exchange on
  * conv_id + one local sort by (ts, side, turn_idx), then a running
  * `last(payload, ignoreNulls)` — i.e. a sort-merge as-of. No
  * driver-side collect (the reference's `toPandas()`,
  * silver_and_gold.py:143, is the anti-pattern this deletes). Cost is
  * O((|Q|+|H|) log) per partition and broadcast-free, so it survives
  * 100 TB histories; skewed mega-conversations follow the same
  * time-segment lever as the window stage ([[asOfSegmented]]).
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
    * latest row per key by (ts, turn_idx), restricted to a small key
    * set. The key frame's distinct non-null conv_ids are collected on
    * the driver (a `batch_get_record`-sized set; a local key frame
    * collects without a job).
    *
    * When `history` is a plain column projection of a committed engine
    * gold table (`spark.read.parquet("<out>/gold")`, optionally minus
    * columns such as `slice_id`), the rows come from the online store —
    * the state table the backfill commits next to gold — through
    * [[graft.meta.Checkpoint.latestGoldRows]]: a driver-side parquet
    * read of the snapshot plus the later deltas for these keys, ZERO
    * Spark jobs, and a cost that grows with conversations, not turns.
    * [[committedGold]] decides whether `history` is such a table;
    * anything else (an in-memory frame, a filtered read, a table with
    * an uncommitted slice dir) takes the gold scan
    * `latestPerKey(history.filter(conv_id IN keys))`. Both answer
    * exactly [[latestPerKey]] restricted to the keys.
    *
    * The result is eager: a local DataFrame (`LocalRelation`) in
    * `history`'s column order. Collecting it launches no further job,
    * and no action on it rescans `history`. Null keys match nothing; an
    * empty key set returns zero rows without a job or a read. With
    * `SPARK_GRAFT_PHASE_LOG=1` each call prints one `[phase] lookup`
    * line: the path taken, its wall time and, from the state table,
    * the files opened, rows decoded and bytes read.
    */
  def latestForKeys(history: DataFrame, keys: DataFrame): DataFrame = {
    val spark = history.sparkSession
    // straight from the executed plan's rows: a key set needs neither
    // the SQL-execution bookkeeping nor the Row conversion of a collect
    val k = keys.schema.fieldIndex("conv_id")
    val ids = keys.queryExecution.executedPlan.executeCollect()
      .flatMap(r => if (r.isNullAt(k)) None else Some(r.getUTF8String(k).toString)).distinct.toSeq
    if (ids.isEmpty) return GraftInternalAccess.localCreateDataFrame(spark, Nil, history.schema)
    val t0 = System.nanoTime()
    def logged(line: String): Unit =
      if (graft.Backfill.phaseLog)
        println(f"[phase] lookup $line%-22s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
    committedGold(history).flatMap { case (outDir, slices) =>
      Checkpoint.latestGoldRows(spark, outDir, slices, ids, history.schema)
    } match {
      case Some(read) =>
        logged(s"state table (${read.files} files, ${read.rowsDecoded} rows, ${read.bytes} B)")
        GraftInternalAccess.localCreateDataFrame(spark, read.rows, history.schema)
      case None =>
        val rows = latestPerKey(history.filter(col("conv_id").isin(ids: _*))).collect()
        logged("gold scan")
        spark.createDataFrame(rows.toSeq.asJava, history.schema)
    }
  }

  /** `(table dir, listed slice ids)` when `history`'s analyzed plan is
    * a projection of plain columns over ONE parquet relation rooted at
    * `<dir>/gold` whose files all sit in its `slice_id=` dirs; the
    * slice ids are the dirs the relation listed. The state read checks
    * them against the committed watermarks before it answers.
    */
  private def committedGold(history: DataFrame): Option[(String, Set[String])] = {
    def relation(p: LogicalPlan): Option[HadoopFsRelation] = p match {
      case Project(list, child) if list.forall(_.isInstanceOf[AttributeReference]) => relation(child)
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[ParquetFileFormat] => Some(fs)
        case _ => None
      }
      case _ => None
    }
    relation(history.queryExecution.analyzed).flatMap { fs =>
      fs.location.rootPaths match {
        case Seq(root) if root.getName == "gold" =>
          val dirs = fs.location.inputFiles.toSeq.map(f => new org.apache.hadoop.fs.Path(f).getParent)
          if (dirs.forall(d => d.getParent == root && d.getName.startsWith("slice_id=")))
            Some((root.getParent.toString, dirs.map(_.getName.stripPrefix("slice_id=")).toSet))
          else None
        case _ => None
      }
    }
  }
}
