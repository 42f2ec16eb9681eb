package graft

import java.sql.Timestamp

import scala.annotation.tailrec
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.gold.{FeatureWindows, FusedSweep}
import graft.meta.Checkpoint
import graft.schema.TranscriptSchema
import graft.silver.SilverBuilder

/** Resumable, checkpointed bronze → silver → gold backfill over
  * half-open time slices `[start, end)`.
  *
  * Replaces the reference's EventBridge/Step Functions micro-batch loop
  * (state_machines/stream_pipeline.asl.json) with a pure-Spark driver,
  * and fixes its batch semantics (SURVEY.md §2.1):
  *  - D5: window features see FULL history — each slice reads the
  *    maxLookback window of already-written gold as narrow context, and
  *    lag/gap/session carry exact per-conversation state across slices
  *    (prev ts/role + session count), so a sliced backfill is
  *    bit-identical to a single-shot run (BackfillSpec property).
  *  - D6: half-open slices + idempotent dynamic-partition overwrite —
  *    no boundary double-counting; any slice can be re-run safely.
  *  - D3: watermark rows are real: `committed` is flipped only after
  *    data + lineage land; resume skips committed slices and recomputes
  *    the rest.
  *
  * Layout: silver/gold partitioned by (dt, slice_id) so a slice
  * overwrite replaces exactly its own files while `dt` stays prunable.
  * Per-(slice, partition) row counts / content hashes / throughput go
  * to the lineage table (Checkpoint).
  */
object Backfill {

  final case class SliceReport(sliceId: String, rows: Long, wallMs: Long, skipped: Boolean)

  private[graft] val MaxLookbackSecs = 604800L // the widest feature frame (7d)

  def sliceId(startSec: Long): String = s"s$startSec"

  /** Opt-in per-phase wall logging (SPARK_GRAFT_PHASE_LOG=1): prints
    * `[phase] <slice> <name> <secs>` for bench forensics; zero cost
    * when unset.
    */
  private[graft] val phaseLog = sys.env.get("SPARK_GRAFT_PHASE_LOG").contains("1")
  @inline private def phase[A](id: String, name: String)(f: => A): A =
    if (!phaseLog) f
    else {
      val t0 = System.nanoTime()
      val a = f
      println(f"[phase] $id $name%-22s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      a
    }

  /** Timestamp literal of `sec` matching the column's own type (ntz or
    * tz — the generator writes tz, driver parquet reads back ntz).
    * Comparing `ts` against a folded literal — instead of wrapping the
    * column in unix_timestamp() — keeps the predicate pushable into the
    * parquet scan (round-1 scale-killer #1: every slice re-scanned the
    * whole table). Equivalent to the epoch-second compare because slice
    * bounds are whole seconds.
    */
  private def tsLit(df: DataFrame, sec: Long): Column =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        lit(java.time.LocalDateTime.ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC))
      case _ => lit(java.time.Instant.ofEpochSecond(sec))
    }

  /** UTC calendar date containing epoch-second `sec` — the matching
    * `dt` partition predicate (dt = to_date(ts), UTC session).
    */
  private def dtLit(sec: Long): Column =
    lit(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(Math.floorDiv(sec, 86400L))))

  /** Bound on the state-delta chain length before ADAPTIVE compaction
    * fires (chain reads are O(chain x touched conversations); 4 bounds
    * the read amplification at 4x steady-state while amortizing the
    * compaction write to 1/4 per slice).
    */
  private val MaxStateChain = 4

  /** Output-file sizing targets for the sweep exchange. The sweep
    * pipeline is NARROW from its hash exchange to the gold write, so
    * files per slice == sweep partitions; sizing the exchange by data
    * volume bounds the file count independently of core count (round-4
    * verdict: the fixed 8x-cores exchange wrote 8k files/slice at 1000
    * cores regardless of slice size — a 100-slice backfill approached
    * 10^6 objects). Partition count =
    *   max(ceil(bytes/MaxFileBytes), min(ceil(bytes/MinFileBytes), 8x cores))
    *  - huge slices: bytes/128MB partitions — ample parallelism AND
    *    right-sized files (1 TB slice at 1000 cores: 8192 x 128MB);
    *  - bench-scale slices (bytes in [8x cores x 8MB, 8x cores x
    *    128MB]): exactly today's 8x-cores dilution of the mega
    *    straggler, unchanged scaling numbers;
    *  - small slices: bytes/8MB partitions at ANY core count — fewer
    *    concurrent tasks, but each holds <= 8MB, so the lost
    *    parallelism is over work that is small by construction.
    * MinFileBytes is 8MB (not a rounder 16/32) so the 1GB-per-slice
    * scaling-bench regime keeps its measured 8x-cores mega-dilution at
    * local[16] (bytes/8MB ~ 119 ~ the old 128) — at 16MB that pair
    * would halve its sweep parallelism and re-grow the mega straggler's
    * average share by ~13%.
    */
  private val MaxFileBytes = 128L << 20
  private val MinFileBytes = 8L << 20

  /** Sweep partition count for a slice whose output is estimated at
    * `estBytes` (previous slice's written bytes, or bronze-size/nSlices
    * on the first slice; None = no usable estimate -> the legacy
    * 8x-cores default).
    */
  private[graft] def sweepPartitions(spark: SparkSession, estBytes: Option[Long]): Int = {
    val cores8 = spark.conf.get("spark.sql.shuffle.partitions").toInt *
      FusedSweep.OverPartitionFactor
    estBytes match {
      case Some(b) if b > 0 =>
        val byMax = Math.ceil(b.toDouble / MaxFileBytes).toInt
        val byMin = Math.ceil(b.toDouble / MinFileBytes).toInt
        // floor 2, not 1: HashPartitioning(x, 1) degenerates to a
        // single-partition requirement that a 0-partition (empty-dir)
        // side-stream scan already satisfies — Spark then elides that
        // exchange and the sweep's two zipped streams disagree on
        // partition count. n >= 2 is a real hash requirement, never
        // elided.
        Math.max(2, Math.max(byMax, Math.min(byMin, cores8)))
      case _ => cores8
    }
  }

  /** Driver-side recursive byte count of a written dir (one FS summary
    * call; no Spark job).
    */
  private def dirBytes(spark: SparkSession, path: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(fs.getContentSummary(p).getLength) else None
  }

  /** Run the backfill for contiguous slices covering
    * [firstStartSec, firstStartSec + nSlices * sliceSecs). `bronze` is
    * the raw input (any layout); rows are routed to slices by ts.
    *
    * The slice loop is a fold over one immutable [[Carried]] value.
    * A slice that is neither committed nor probed empty runs four
    * stages, one `[phase]` span each: [[inputs]], [[plan]], [[write]]
    * and [[commit]]; the last hands the next slice its carried state.
    *
    * Committed lookback events reach the sliding frames of later
    * slices by a RESCAN: each slice re-reads the narrow (conv_id, ts,
    * text_len, tool) columns of the committed gold inside the
    * lookback window ([[contextRead]]) — parquet column pruning skips
    * the dominant text column, and the rows ride a small side shuffle
    * into the sweep, not the big exchange.
    *
    * Every contract-clean conversation takes the fused sweep
    * ([[FusedSweep.gold]]), however large; its byte-sized, 8x
    * over-partitioned exchange bounds a mega's task at the mega's own
    * rows. `skewHeavyThreshold` has NO effect: it stays on the
    * signature for existing callers only. The time-segmented skew
    * route it used to select lost every rung of the skew ladder, up to
    * 16M turns of one conversation in one slice (docs/SKEW_LADDER.md).
    * `segmentSecs` sizes the chunks of the ts-inverted reroute's range
    * features ([[heavyGold]]).
    *
    * `materializeSilver`: the gold schema is a superset of silver
    * (silver columns + features), so the silver layer is SERVED as a
    * projection of the gold files ([[readSilver]]) — zero duplicate
    * storage and one less write per slice. Set true to also write a
    * physical `silver/` copy (e.g. to serve silver to readers that
    * must not see feature columns at the storage ACL level).
    */
  def run(
      spark: SparkSession,
      bronze: DataFrame,
      outDir: String,
      firstStartSec: Long,
      sliceSecs: Long,
      nSlices: Int,
      sessionGapSecs: Long = TranscriptSchema.DefaultSessionGapSecs,
      failAfterGoldWriteOfSlice: Option[String] = None,
      skewHeavyThreshold: Option[Long] = None,
      segmentSecs: Long = 604800L,
      materializeSilver: Boolean = false): Seq[SliceReport] = {

    // the committed watermark rows, read once on the driver: the resume
    // set, the slice-width guard and the empty-slice seeds all come
    // from this one list
    val wms = phase("run", "watermark read")(
      Checkpoint.watermarks(spark, outDir).filter(_.committed))

    // Resuming/extending with a different slice width would silently
    // mis-prune the lookback reads (slice dirs are time ranges of the
    // width they were WRITTEN with) — fail loudly instead.
    phase("run", "width guard")(wms.find(w => w.endSec - w.startSec != sliceSecs).foreach { w =>
      throw new IllegalArgumentException(
        s"committed slice width ${w.endSec - w.startSec}s does not match " +
          s"sliceSecs=${sliceSecs}s; slice-granular pruning assumes uniform widths — " +
          "resume this table with its original slice width")
    })

    // Table-version guard (resume across engine upgrades): the frame
    // stages read the persisted text_len of committed gold; a table
    // written before that column existed would silently zero the
    // char-length features of lookback context. Fail loudly instead.
    // One driver-side footer read of the first gold file.
    if (wms.nonEmpty && phase("run", "text_len guard")(
        Checkpoint.firstFileColumns(spark, s"$outDir/gold").exists(!_.contains("text_len"))))
      throw new IllegalArgumentException(
        "committed gold table lacks the text_len column (written by an older engine " +
          "version); re-run the backfill from scratch, or backfill text_len = " +
          "length(text) into the committed slices first")

    val env = RunEnv(spark, bronze, outDir, sliceSecs, nSlices, sessionGapSecs,
      segmentSecs, materializeSilver)
    // committed row counts: the resume set, and the seed of the
    // empty-slice flag across resumes
    val committedRows: Map[String, Long] = wms.map(w => w.sliceId -> w.rowCount).toMap

    (0 until nSlices).foldLeft((Carried(), Vector.empty[SliceReport])) {
      case ((c, reports), i) =>
        val s = Slice(i, firstStartSec + i * sliceSecs, sliceSecs)
        val t0 = System.nanoTime()
        val (report, next) = committedRows.get(s.id) match {
          case Some(rows) =>
            (SliceReport(s.id, 0L, 0L, skipped = true), c.copy(prevEmpty = rows == 0L))
          case None if c.prevEmpty && phase(s.id, "empty probe")(env.sliceRows(s).isEmpty) =>
            commitEmpty(env, s)
            (SliceReport(s.id, 0L, (System.nanoTime() - t0) / 1000000L, skipped = false), c)
          case None =>
            val in = inputs(env, s)
            val w = write(env, s, in, plan(env, s, c))
            if (failAfterGoldWriteOfSlice.contains(s.id))
              throw new RuntimeException(s"injected failure after gold write of ${s.id} (test hook)")
            commit(env, s, w, c, t0)
        }
        (next, reports :+ report)
    }._2
  }

  /** What one slice hands the next within a [[run]] call. */
  private final case class Carried(
      // the last slice's written bytes: sweep-exchange sizing
      lastBytes: Option[Long] = None,
      // the previous slice had no rows: probe this one (see [[commitEmpty]])
      prevEmpty: Boolean = false)

  /** Slice `i` of a run: the half-open range [start, start + width). */
  private final case class Slice(i: Int, start: Long, width: Long) {
    val end: Long = start + width
    val id: String = sliceId(start)
    /** UTC days the slice touches: the lineage rows of a slice. */
    val days: Seq[java.time.LocalDate] =
      (Math.floorDiv(start, 86400L) to Math.floorDiv(end - 1, 86400L))
        .map(java.time.LocalDate.ofEpochDay)
  }

  /** What every slice of one [[run]] call shares. */
  private final case class RunEnv(
      spark: SparkSession, bronze: DataFrame, outDir: String, sliceSecs: Long, nSlices: Int,
      sessionGapSecs: Long, segmentSecs: Long, materializeSilver: Boolean) {
    val goldPath = s"$outDir/gold"
    val silverPath = s"$outDir/silver"

    // explicit read schema for all committed-gold reads: survives empty
    // dirs (zero readable files) and pre-upgrade slices (text_len reads
    // as null instead of failing inference)
    val goldFileSchema: StructType = StructType(
      TranscriptSchema.gold.fields.map(f =>
        if (f.name == "ts") f.copy(dataType = bronze.schema("ts").dataType)
        else f.copy(nullable = true)) ++ Seq(
        StructField("text_len", LongType, nullable = true),
        StructField("slice_id", StringType, nullable = true)))

    // one gold row as the sweep emits it: the state rows' `latest` type
    val goldRowType: StructType = FusedSweep.goldSchemaFor(bronze.schema("ts").dataType)

    /** First-slice byte estimate: bronze plan stats / nSlices (file
      * bytes for parquet scans; the "unknown" Long.MaxValue default is
      * discarded).
      */
    lazy val bronzeBytesEst: Option[Long] = {
      val s = bronze.queryExecution.optimizedPlan.stats.sizeInBytes
      if (s > 0 && s < BigInt(Long.MaxValue) / 4) Some((s / BigInt(Math.max(nSlices, 1))).toLong)
      else None
    }

    def sliceRows(s: Slice): DataFrame =
      bronze.filter(bronze("ts") >= tsLit(bronze, s.start) && bronze("ts") < tsLit(bronze, s.end))

    def goldWritten(s: Slice): DataFrame =
      spark.read.schema(goldFileSchema).parquet(goldPath).filter(col("slice_id") === s.id)
  }

  /** Empty-slice fast path: commit the zero-row watermark directly and
    * remove any stale data a prior invalidated run of the slice left.
    * The full pipeline would pay the whole fixed per-slice job overhead
    * for zero rows. Its limit-1 probe costs ~one footer read but, as an
    * unconditional job, would be fixed residue on dense backfills — so
    * [[run]] probes only when the PREVIOUS slice was empty.
    */
  private def commitEmpty(env: RunEnv, s: Slice): Unit = phase(s.id, "commit") {
    deleteDir(env.spark, s"${env.goldPath}/slice_id=${s.id}")
    if (env.materializeSilver) deleteDir(env.spark, s"${env.silverPath}/slice_id=${s.id}")
    Checkpoint.clearConvStateDelta(env.spark, env.outDir, s.start)
    Checkpoint.commitSlice(env.spark, env.outDir, s.id,
      new Timestamp(s.start * 1000L), new Timestamp(s.end * 1000L), None, 0L)
  }

  /** A slice's inputs: the validated slice bronze, the state
    * delta chain of all committed slices before it (one parquet read;
    * the sweep resolves latest-per-conversation inline) and the
    * committed lookback context — conv_id + ts + persisted text_len +
    * tool only, so parquet column pruning never touches the dominant
    * text column (one listing of the overlapping slice dirs).
    */
  private final case class SliceInputs(bronze: DataFrame, deltas: DataFrame, ctx: DataFrame)

  private def inputs(env: RunEnv, s: Slice): SliceInputs = phase(s.id, "inputs") {
    SliceInputs(SilverBuilder.validate(env.sliceRows(s)),
      Checkpoint.readConvStateDeltas(env.spark, env.outDir, s.start),
      contextRead(env.spark, env.goldPath, s.id, s.start, env.sliceSecs, Some(env.goldFileSchema)))
  }

  /** The write-shape decision for a slice: its sweep partition count
    * (= output files), sized from the best available byte estimate:
    * this run's previous written slice, a committed neighbor on
    * resume, or bronze-size/nSlices.
    */
  private def plan(env: RunEnv, s: Slice, c: Carried): Int =
    phase(s.id, "plan") {
      val estBytes = c.lastBytes
        .orElse(if (s.i > 0)
          dirBytes(env.spark, s"${env.goldPath}/slice_id=${sliceId(s.start - env.sliceSecs)}")
        else None)
        .orElse(env.bronzeBytesEst)
      sweepPartitions(env.spark, estBytes)
    }

  /** A landed gold write: its observed lineage row (None = observe
    * skipped or timed out) and the ts-inverted conversations it
    * rerouted off the light sweep.
    */
  private final case class SliceWrite(metrics: Option[Row], invertedIds: Seq[String])

  /** ONE compute pass lands gold into the slice's OWN static
    * `slice_id=` directory (a plain overwrite: the idempotent-replace
    * semantics of dynamic partition overwrite without its staging
    * protocol, whose driver-side file moves grow with task count;
    * FLAT inside the dir — `dt` stays a data column, time pruning
    * happens at slice granularity). Lineage metrics are OBSERVED on the
    * write itself (zero extra jobs), and the sweep tasks emit the
    * slice's conversation-state delta as per-task side-files of the
    * same job.
    *
    * The fused sweep asserts the transcript contract (ts non-decreasing
    * in turn_idx). When a conversation breaks it, the slice RE-RUNS
    * (idempotent overwrite) with the clock-skewed conversations
    * rerouted to [[heavyGold]]: ts-sorted range features + plain
    * turn-ordered sessions. Zero cost on the contract-clean path.
    */
  private def write(env: RunEnv, s: Slice, in: SliceInputs, sweepParts: Int): SliceWrite =
    phase(s.id, "write") {
      val stateSink = graft.meta.StateSideSink(
        dir = Checkpoint.stateDeltaDir(env.outDir, s.start),
        conf = new graft.meta.SerializableHadoopConf(env.spark.sparkContext.hadoopConfiguration))

      def buildGold(inverted: Seq[String]): DataFrame = {
        val isInverted =
          if (inverted.isEmpty) lit(false) else col("conv_id").isin(inverted: _*)
        val light = FusedSweep.gold(
          in.deltas.filter(!isInverted), in.bronze.filter(!isInverted), env.sessionGapSecs,
          Some(FusedSweep.ctxStreamRows(in.ctx.filter(!isInverted))),
          numPartitions = Some(sweepParts),
          stateSink = Some(stateSink))
        if (inverted.isEmpty) light
        else {
          // the reroute's frame context comes from the same narrow gold
          // read, text passed as null + text_len
          val context = in.ctx
            .select(col("conv_id"), col("turn_idx"), col("role"),
              lit(null).cast("string").as("text"), col("tool"), col("ts"), col("text_len"))
          val rerouted = heavyGold(in.deltas.filter(isInverted), context.filter(isInverted),
            in.bronze.filter(isInverted), s.start, env.sessionGapSecs, env.segmentSecs,
            outPartitions = Some(sweepParts))
          light.unionByName(rerouted.select(light.columns.map(col): _*))
        }
      }

      // observe() fuses the per-dt lineage aggregates into the write
      // job; for pathologically wide slices [[commit]] falls back to a
      // separate narrow aggregate over the written files. Each attempt
      // observes under its own name: a late listener event from a
      // failed attempt must never satisfy the retry's waiter.
      def writeGold(df: DataFrame, attempt: Int): Option[Row] = {
        def save(d: DataFrame): Unit =
          d.write.mode(SaveMode.Overwrite).parquet(s"${env.goldPath}/slice_id=${s.id}")
        if (s.days.size > 64) { save(df); None }
        else writeObserved(env.spark, s"lineage_${s.id}_a$attempt", df,
          Checkpoint.lineageObserveExprs(df, s.days))(save)
      }

      @tailrec def attempt(n: Int, inverted: Seq[String]): SliceWrite = {
        // pre-clear the slice's delta dir before EVERY attempt: a failed
        // attempt's side-files (possibly for partitions the retry's
        // different routing never rewrites) must not survive
        Checkpoint.clearConvStateDelta(env.spark, env.outDir, s.start)
        Try(writeGold(buildGold(inverted), n)) match {
          case Success(metrics) => SliceWrite(metrics, inverted)
          case Failure(e) if isTsInversion(e) =>
            val found = phase(s.id, "inversion detect")(detectInvertedConvs(in.bronze))
            if (!found.exists(d => !inverted.contains(d))) throw e
            println(s"[backfill] ${s.id}: rerouting ${found.size} ts-inverted " +
              s"conversation(s) off the fused sweep: ${found.take(5).mkString(", ")}" +
              (if (found.size > 5) ", ..." else ""))
            attempt(n + 1, (inverted ++ found).distinct)
          case Failure(e) => throw e
        }
      }
      attempt(1, Nil)
    }

  /** Everything after the gold write, watermark last: the optional
    * silver copy, lineage (from the observed write metrics, or an
    * aggregate over the written files), the state delta of the
    * rerouted conversations (the light path's already landed as
    * side-files), the committing watermark row, and adaptive state
    * compaction.
    */
  private def commit(
      env: RunEnv, s: Slice, w: SliceWrite, c: Carried, t0: Long): (SliceReport, Carried) =
    phase(s.id, "commit") {
      val spark = env.spark
      if (env.materializeSilver)
        phase(s.id, "silver write")(env.goldWritten(s)
          .select(TranscriptSchema.silver.fieldNames.map(col).toSeq: _*)
          .write.mode(SaveMode.Overwrite).parquet(s"${env.silverPath}/slice_id=${s.id}"))
      val wallMs = (System.nanoTime() - t0) / 1000000L
      val (rows, hw) = phase(s.id, "lineage")(w.metrics match {
        case Some(m) =>
          Checkpoint.writeLineageFromMetrics(spark, env.outDir, s.id, s.days, m, wallMs)
        case None =>
          Checkpoint.appendLineage(env.outDir, env.goldWritten(s), s.id, wallMs)
      })
      // a zero-row slice keeps no gold dir, as on the empty-slice fast
      // path: the write left a metadata-only file readers would open
      if (rows == 0L) {
        deleteDir(spark, s"${env.goldPath}/slice_id=${s.id}")
        if (env.materializeSilver) deleteDir(spark, s"${env.silverPath}/slice_id=${s.id}")
      }
      val bytes = if (rows > 0L) dirBytes(spark, s"${env.goldPath}/slice_id=${s.id}") else None
      if (rows > 0L && w.invertedIds.nonEmpty)
        phase(s.id, "rerouted slice meta")(Checkpoint.appendSliceMeta(env.outDir, s.start,
          Checkpoint.stateDeltaFromGold(
            env.goldWritten(s).filter(col("conv_id").isin(w.invertedIds: _*)))))
      phase(s.id, "watermark")(Checkpoint.commitSlice(spark, env.outDir, s.id,
        new Timestamp(s.start * 1000L), new Timestamp(s.end * 1000L), hw, rows))
      if (phase(s.id, "compaction check")(
          Checkpoint.uncompactedDeltaDirs(spark, env.outDir, s.start + 1) > MaxStateChain))
        phase(s.id, "state compaction")(
          Checkpoint.compactConvState(spark, env.outDir, s.start, env.goldRowType))
      (SliceReport(s.id, rows, wallMs, skipped = false),
        if (rows == 0L) c.copy(prevEmpty = true)
        else c.copy(lastBytes = bytes, prevEmpty = false))
    }

  private def deleteDir(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** The silver layer, served as a projection of the gold files (gold
    * = silver columns + feature columns over the identical row set —
    * same dedup, same ordering). Zero duplicate storage; see
    * `materializeSilver` on [[run]] for the physical-copy option.
    */
  def readSilver(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/gold")
      .select(TranscriptSchema.silver.fieldNames.map(col).toSeq :+ col("slice_id"): _*)

  /** Runs `write` over `df` with `exprs` observed under `name` —
    * aggregates computed by the write job itself, no extra job or scan.
    * Returns the observed row, or None if it did not arrive (see
    * [[MetricsWaiter.await]]).
    */
  private[graft] def writeObserved(
      spark: SparkSession, name: String, df: DataFrame, exprs: Seq[Column])(
      write: DataFrame => Unit): Option[org.apache.spark.sql.Row] = {
    val waiter = new MetricsWaiter(name)
    spark.listenerManager.register(waiter)
    try {
      write(df.observe(name, exprs.head, exprs.tail: _*))
      waiter.await()
    } finally spark.listenerManager.unregister(waiter)
  }

  /** Waits for the observed metrics of a write to land on the listener
    * bus. A fresh instance per write (the gold write's ts-inversion
    * retry re-observes under a fresh name).
    */
  private final class MetricsWaiter(name: String)
      extends org.apache.spark.sql.util.QueryExecutionListener {
    private val latch = new java.util.concurrent.CountDownLatch(1)
    @volatile private var row: Option[org.apache.spark.sql.Row] = None
    private def grab(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
      qe.observedMetrics.get(name).foreach { r =>
        row = Some(r); latch.countDown()
      }
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = grab(qe)
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = grab(qe)
    /** Blocks until the metrics arrive (bounded; the write action has
      * already succeeded when this is called, so the only wait is the
      * async listener bus). Returns None on timeout — the caller falls
      * back to an aggregate over the written files rather than failing
      * a successful write.
      */
    def await(): Option[org.apache.spark.sql.Row] = {
      if (!latch.await(120, java.util.concurrent.TimeUnit.SECONDS)) {
        System.err.println(
          s"[backfill] observed metrics '$name' did not arrive within 120s; " +
            "falling back to an aggregate over the written files")
        None
      } else row
    }
  }

  /** LATE-DATA QUEUE (SURVEY §2.10): a bronze row whose ts falls in an
    * already-committed slice is invisible to [[run]] (committed slices
    * are skipped on resume — the watermark semantics). `collectLate`
    * routes such rows to `<out>/_late/late_slice_start=<sec>` instead
    * of letting them vanish: it scans the bronze rows inside committed
    * slice ranges and keeps those whose (conv_id, turn_idx) appears
    * NOWHERE in silver — i.e. genuinely missing turns, not re-sends of
    * committed ones (those are watermark-dedup'd by design). One
    * shuffle: bronze-in-committed-ranges anti-join the narrow
    * (conv_id, turn_idx) silver projection. Returns the number of
    * late rows queued. Idempotent full-overwrite of `_late`.
    *
    * Contract note: queued rows are assumed to OBEY the transcript
    * contract (ts non-decreasing in turn_idx within a conversation) —
    * i.e. a late turn's ordinal is consistent with its timestamp
    * position among the committed turns. A corrupt row claiming a
    * far-future ordinal with a past timestamp reprocesses like any
    * other contract violation: the carried-turn dedup treats the
    * conversation's subsequent lower-ordinal rows as re-sends (the
    * same garbage-in behavior a single-shot run would exhibit under
    * its own dedup rules).
    */
  def collectLate(
      spark: SparkSession,
      bronze: DataFrame,
      outDir: String,
      firstStartSec: Long,
      sliceSecs: Long): Long = {
    val committedIds = Checkpoint.committedSlices(spark, outDir)
    if (committedIds.isEmpty) return 0L
    val latePath = s"$outDir/_late"
    val v = SilverBuilder.validate(bronze)
    val sliceStart = (floor((unix_timestamp(col("ts")) - firstStartSec) / sliceSecs)
      .cast("long") * sliceSecs + firstStartSec)
    val inCommitted = v
      .withColumn("late_slice_start", sliceStart)
      .filter(concat(lit("s"), col("late_slice_start")).isin(committedIds.toSeq: _*))
    // committed keys come from the gold files (silver is a projection
    // of gold — [[readSilver]]); guard the path: a table whose every
    // committed slice was empty has no gold dir at all
    val goldP = s"$outDir/gold"
    val silverKeys =
      if (Checkpoint.pathExists(spark, goldP))
        spark.read.schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("conv_id",
            org.apache.spark.sql.types.StringType, nullable = true),
          org.apache.spark.sql.types.StructField("turn_idx",
            org.apache.spark.sql.types.IntegerType, nullable = true))))
          .parquet(goldP).select(col("conv_id"), col("turn_idx"))
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("conv_id",
            org.apache.spark.sql.types.StringType, nullable = true),
          org.apache.spark.sql.types.StructField("turn_idx",
            org.apache.spark.sql.types.IntegerType, nullable = true))))
    val late = inCommitted.join(silverKeys, Seq("conv_id", "turn_idx"), "left_anti")
      .select(TranscriptSchema.silver.fieldNames.filterNot(_ == "dt").map(col) :+
        col("late_slice_start"): _*)
    // one pass: the queue write observes its own row count
    val n = writeObserved(spark, s"late_queue_${System.nanoTime()}", late,
        Seq(count(lit(1)).as("n")))(
        _.write.mode(SaveMode.Overwrite).partitionBy("late_slice_start").parquet(latePath))
      .map(_.getLong(0))
      .getOrElse(spark.read.schema(late.schema).parquet(latePath).count())
    if (n == 0L) deleteDir(spark, latePath) // stale queue fully drained
    n
  }

  /** Reprocess queued late rows: invalidate every slice at or after
    * the earliest late row's slice (features and carried state
    * downstream of it change), re-run the backfill on the caller's
    * full bronze (which contains the late rows), and clear the queue.
    * Result equals a single-shot run over the full input
    * (LateDataSpec property). `skewHeavyThreshold` has no effect, as on
    * [[run]] (docs/SKEW_LADDER.md).
    */
  def reprocessLate(
      spark: SparkSession,
      bronze: DataFrame,
      outDir: String,
      firstStartSec: Long,
      sliceSecs: Long,
      nSlices: Int,
      sessionGapSecs: Long = TranscriptSchema.DefaultSessionGapSecs,
      skewHeavyThreshold: Option[Long] = None,
      segmentSecs: Long = 604800L,
      materializeSilver: Boolean = false): Seq[SliceReport] = {
    val latePath = s"$outDir/_late"
    val runAll = () => run(spark, bronze, outDir, firstStartSec, sliceSecs, nSlices,
      sessionGapSecs = sessionGapSecs, segmentSecs = segmentSecs,
      materializeSilver = materializeSilver)
    // the earliest queued slice, from the queue's partition dir names
    // (driver-side listing, no Spark job)
    val lateSecs = Checkpoint.numberedDirs(spark, latePath, "late_slice_start=").map(_._2)
    if (lateSecs.isEmpty) return runAll()
    val fromSec = lateSecs.min
    println(s"[backfill] reprocessing late data: invalidating slices from s$fromSec")
    Checkpoint.invalidateFrom(spark, outDir, fromSec)
    val reports = runAll()
    // queue is consumed only after the re-run committed
    deleteDir(spark, latePath)
    reports
  }

  /** True if the failure (anywhere in the cause chain) is the fused
    * sweep's ts-monotonicity precondition.
    */
  private[graft] def isTsInversion(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
      .exists(t => Option(t.getMessage).exists(_.contains("fused sweep precondition violated")))

  /** Conversations whose deduped slice rows have ts DECREASING in
    * turn_idx — the ones the fused sweep cannot stream. Only runs on
    * the anomaly path (after a precondition failure), so its extra
    * shuffle costs nothing in the contract-clean case. Inversions
    * against committed history are impossible by construction: slice
    * rows have ts >= slice start > every committed event's ts.
    */
  private[graft] def detectInvertedConvs(sliceBronze: DataFrame): Seq[String] = {
    val tsSec = unix_timestamp(col("ts"))
    SilverBuilder.dedup(sliceBronze)
      .withColumn("_p", lag(tsSec, 1).over(
        Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))))
      .filter(col("_p") > tsSec)
      .select(col("conv_id")).distinct()
      .collect().map(_.getString(0)).toSeq
  }

  /** The ts-INVERTED reroute: the slice path of conversations whose ts
    * decreases in turn order, which the fused sweep rejects. Slice
    * rows are deduplicated as silver is ([[SilverBuilder.dedup]]),
    * the range features run ts-sorted in time chunks of `segmentSecs`
    * ([[graft.gold.FastWindows.rangeFeaturesChunked]]), and lag and
    * sessions come from the turn-ordered single window of
    * [[withState]], whose session chain stays correct when ts
    * disagrees with turn order. `context` holds the conversations'
    * committed lookback rows, which feed the frames only.
    */
  private[graft] def heavyGold(
      deltas: DataFrame,
      context: DataFrame,
      sliceBronze: DataFrame,
      start: Long,
      gapSecs: Long,
      segmentSecs: Long,
      outPartitions: Option[Int] = None): DataFrame = {
    val state = Checkpoint.latestConvState(deltas)
    // same horizon-free re-send drop as the fused light path: a bronze
    // turn at or below the carried last committed turn_idx is a
    // duplicate of committed data, so no committed row can win the
    // dedup (rerouted conversations are few — the state side broadcasts)
    val bronzeNew = sliceBronze
      .join(broadcast(state.select(col("conv_id"), col("st_last_turn_idx").as("_lt"))),
        Seq("conv_id"), "left")
      .filter(col("_lt").isNull || col("turn_idx") > col("_lt"))
    val silverF = SilverBuilder.dedup(bronzeNew)
      .select(col("conv_id"), col("turn_idx"), col("role"), col("text"), col("tool"),
        col("ts"), coalesce(length(col("text")).cast("long"), lit(0L)).as("_fw_len"))
    // Context may arrive gold-sourced (null text + text_len) or as raw
    // silver (specs) — normalize the frame length. Fall through to
    // length(text) when text_len is null (pre-upgrade gold slices are
    // rejected loudly at run start, so a null-null pair cannot
    // silently zero the lengths).
    val ctxLen =
      if (context.columns.contains("text_len"))
        coalesce(col("text_len"), length(col("text")).cast("long"), lit(0L))
      else coalesce(length(col("text")).cast("long"), lit(0L))
    val withContext = context.withColumn("_fw_len", ctxLen)
      .select(silverF.columns.map(col): _*)
      .unionByName(silverF)
    // O(n) segment-salted sweep (FastWindows), not a declarative
    // window over the salted segments — WindowExec rebuilds collect_set
    // per row of a sliding range frame, O(rows x frame), unrunnable on
    // a mega-conversation (FastWindowsSpec pins it to the declarative
    // reference)
    val ranged = graft.gold.FastWindows
      .rangeFeaturesChunked(withContext, segmentSecs)
      .drop("_fw_len")
      .filter(col("ts") >= tsLit(withContext, start))
      .withColumn("dt", to_date(col("ts")))

    val sessioned = withState(ranged,
      state.select(col("conv_id"), col("st_last_ts"), col("st_last_role"), col("st_sessions")),
      gapSecs)
    // round-robin the rerouted output across the session's full
    // parallelism before it unions into the slice write: the segment
    // stages leave O(span/segment) partitions, and a downstream write
    // inheriting that would serialize a large conversation's full-width
    // rows on a few tasks (measured: a ~7 s write straggler for 1M rows
    // on 3 tasks). Numbered repartition so AQE leaves it alone; the
    // backfill passes its size-targeted sweep partition count so the
    // rerouted branch's file count stays bounded too.
    val numParts = outPartitions.getOrElse(
      ranged.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
    sessioned.withColumn("text_len", length(col("text")).cast("long"))
      .repartition(numParts)
  }

  /** Lookback context: the `[start - MaxLookback, start)` tail of an
    * already-written slice table (gold, or a silver copy). Slices are
    * time ranges by construction (`slice_id = s<startSec>`), so the
    * `slice_id=` dir names are listed once on the driver and only the
    * <= ceil(lookback/sliceSecs)+1 dirs that can overlap the window
    * are handed to the reader (with `basePath`, so `slice_id` stays a
    * partition column): the file listing per slice stays bounded by
    * the lookback, not by the table's age. The slice_id range filter
    * is kept so the scan still shows it as PartitionFilters, plus
    * pushable ts literals and a dt row predicate (PruningSpec asserts
    * the plan and the relation's root paths). Over an S-slice
    * backfill this keeps total context IO O(S * lookback), not
    * O(S^2).
    */
  private[graft] def contextRead(
      spark: SparkSession, tablePath: String, id: String, start: Long,
      sliceSecs: Long, schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val lo = start - MaxLookbackSecs - sliceSecs
    val dirs = Checkpoint.numberedDirs(spark, tablePath, "slice_id=s")
      .collect { case (p, sec) if sec > lo && sec < start => p.toString }
      .sorted
    if (dirs.nonEmpty) {
      // an explicit schema also covers dirs whose only slice write
      // FAILED mid-flight (zero readable files): inference would throw
      val reader = schema.map(spark.read.schema(_)).getOrElse(spark.read)
      val ctxAll = reader.option("basePath", tablePath).parquet(dirs: _*)
      val sliceStart = substring(col("slice_id"), 2, 18).cast("long")
      ctxAll
        .filter(col("slice_id") =!= id && sliceStart > lo && sliceStart < start &&
          col("dt") >= dtLit(start - MaxLookbackSecs) && col("dt") <= dtLit(start) &&
          ctxAll("ts") >= tsLit(ctxAll, start - MaxLookbackSecs) &&
          ctxAll("ts") < tsLit(ctxAll, start))
        .drop("slice_id")
    } else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      // the empty fallback mirrors the requested file schema (minus the
      // slice_id partition column) so first-slice plans resolve the
      // same columns (e.g. text_len) as later slices
      org.apache.spark.sql.types.StructType(
        schema.map(_.fields.filterNot(_.name == "slice_id"))
          .getOrElse(TranscriptSchema.silver.fields)))
  }

  /** lag/gap/session over a slice via ONE window per conversation,
    * seeded by the previous slice's per-conversation state — exact
    * across slice boundaries. Production use: the ts-INVERTED
    * conversation reroute only ([[heavyGold]]; the turn-ordered single
    * window is correct under any turn/ts disagreement, the fused sweep
    * throws on one). Each conversation is one window on one task, as
    * it is one key of the fused sweep. Also the equality baseline in
    * specs.
    */
  private[graft] def withState(ranged: DataFrame, state: DataFrame, gapSecs: Long): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    val tsSec = unix_timestamp(col("ts"))
    ranged
      .join(state, Seq("conv_id"), "left")
      .withColumn("prev_role", coalesce(lag(col("role"), 1).over(w), col("st_last_role")))
      .withColumn("gap_secs",
        tsSec - coalesce(lag(tsSec, 1).over(w), unix_timestamp(col("st_last_ts"))))
      .withColumn("session_id",
        (coalesce(col("st_sessions"), lit(0)) +
          sum(when(col("gap_secs").isNull || col("gap_secs") > gapSecs, 1).otherwise(0))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))).cast("int"))
      .drop("st_last_ts", "st_last_turn_idx", "st_last_role", "st_sessions")
  }

}
