package graft.meta

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Self-managed checkpoint/lineage metadata under `<table>/_meta/`,
  * emulating Iceberg snapshot/metadata tables (no Iceberg jar ships in
  * /opt/spark/jars; the mapping is `snapshots`≈watermarks,
  * `files`≈lineage so a real deployment can swap Iceberg in).
  *
  * Watermarks and lineage are small JSON files written on
  * the driver, one watermark and one lineage file per slice; the
  * carried conversation state (per-slice deltas and compaction
  * snapshots) is parquet. Every control-plane read a resume makes —
  * watermarks, snapshot and delta dir listings, the gold table-version
  * footer check — happens on the driver with no Spark job, so the fixed
  * cost of a narrow one-slice resume stays small.
  *
  * Replaces the reference's parsed-but-unused watermark parameter
  * (silver_and_gold.py:31, defect D3) with real semantics: a slice is
  * the unit of progress; its watermark row is flipped to `committed`
  * only AFTER data + lineage land, so any interrupted backfill resumes
  * by re-running exactly the uncommitted slices (idempotent: each slice
  * overwrites its own static `slice_id=` dirs). Also replaces the
  * driver-side metrics JSON sink (build_datasets.py:126-139) and
  * CloudWatch PutMetricData (stream_pipeline.asl.json:94-108) with
  * queryable tables.
  */
object Checkpoint {

  private def wmPath(outDir: String) = s"$outDir/_meta/watermarks"
  private def linPath(outDir: String) = s"$outDir/_meta/lineage"
  private def stateDir(outDir: String) = s"$outDir/_meta/conv_state"
  private def stateDeltaPath(outDir: String, sliceStartSec: Long) =
    s"${stateDir(outDir)}/slice_start=$sliceStartSec"
  private def snapDir(outDir: String) = s"$outDir/_meta/conv_state_snapshot"
  private def snapPath(outDir: String, uptoSec: Long) = s"${snapDir(outDir)}/upto=$uptoSec"

  val watermarkSchema: StructType = StructType(Seq(
    StructField("slice_id", StringType, nullable = false),
    StructField("slice_start", TimestampType, nullable = false),
    StructField("slice_end", TimestampType, nullable = false),
    StructField("high_watermark_ts", TimestampType, nullable = true),
    StructField("row_count", LongType, nullable = false),
    StructField("status", StringType, nullable = false)))

  val convStateSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType, nullable = false),
    StructField("st_last_ts", TimestampType, nullable = false),
    StructField("st_last_turn_idx", IntegerType, nullable = false),
    StructField("st_last_role", StringType, nullable = false),
    StructField("st_sessions", IntegerType, nullable = false)))

  def pathExists(spark: SparkSession, path: String): Boolean = exists(spark, path)

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Control-plane rows (watermarks, lineage) are DRIVER-WRITTEN JSONL
    * — one small file per slice. They are a handful of rows each; a
    * Spark write job per slice is ~0.5 s of pure scheduling (a
    * non-scaling cost at every cluster size), where a driver file
    * write is ~1 ms. Crash semantics are unchanged: each slice owns
    * its file, a partially-written file fails JSON parsing and reads
    * as uncommitted (the watermark write is the LAST act of a slice).
    * This mirrors Iceberg, whose snapshot metadata is also
    * driver-written JSON/Avro, not a table write.
    */
  private def writeDriverFile(spark: SparkSession, path: String, content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readDriverFile(fs: org.apache.hadoop.fs.FileSystem, p: org.apache.hadoop.fs.Path)
      : String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8) finally in.close()
  }

  private def jsonStr(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case t: java.sql.Timestamp =>
      jsonStr(TsFmt.format(t.toInstant)) // fixed-width micros, see TsFmt
    case other => other.toString
  }

  /** Fixed-width ISO-8601 with exactly 6 fraction digits — one
    * deterministic wire format for both writer and reader.
    */
  private val TsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSX")
    .withZone(java.time.ZoneOffset.UTC)

  /** One watermark row as [[watermarks]] reads it back. */
  final case class Watermark(
      sliceId: String,
      sliceStart: java.sql.Timestamp,
      sliceEnd: java.sql.Timestamp,
      highWatermark: Option[java.sql.Timestamp],
      rowCount: Long,
      status: String) {
    def committed: Boolean = status == "committed"
    def startSec: Long = Math.floorDiv(sliceStart.getTime, 1000L)
    def endSec: Long = Math.floorDiv(sliceEnd.getTime, 1000L)
  }

  /** Every watermark row, read on the driver with no Spark job: one
    * listing of `_meta/watermarks/` plus one small read per `*.json`
    * file. A line that does not parse against [[watermarkSchema]] — a
    * file truncated by a crash mid-write, a malformed timestamp, a
    * missing required field — is dropped, so its slice reads as
    * uncommitted and re-runs on resume.
    */
  def watermarks(spark: SparkSession, outDir: String): Seq[Watermark] = {
    val dir = new org.apache.hadoop.fs.Path(wmPath(outDir))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".json") &&
        !st.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
      .flatMap(st => readDriverFile(fs, st.getPath).split('\n').toSeq)
      .filter(_.trim.nonEmpty)
      .flatMap(parseWatermark)
  }

  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  private def parseWatermark(line: String): Option[Watermark] = scala.util.Try {
    val n = Json.readTree(line)
    def field(name: String) = Option(n.get(name)).filterNot(_.isNull)
    def str(name: String) = field(name).filter(_.isTextual).map(_.textValue).get
    def ts(name: String) = field(name).map(v =>
      java.sql.Timestamp.from(java.time.Instant.from(TsFmt.parse(v.textValue))))
    val rowCount = field("row_count").filter(v => v.isIntegralNumber && v.canConvertToLong).get
    Watermark(str("slice_id"), ts("slice_start").get, ts("slice_end").get,
      ts("high_watermark_ts"), rowCount.longValue, str("status"))
  }.toOption

  /** Slice ids whose watermark row reached `committed`. */
  def committedSlices(spark: SparkSession, outDir: String): Set[String] =
    watermarks(spark, outDir).filter(_.committed).map(_.sliceId).toSet

  /** Write the committed watermark row — the LAST act of a slice. */
  def commitSlice(
      spark: SparkSession,
      outDir: String,
      sliceId: String,
      sliceStart: java.sql.Timestamp,
      sliceEnd: java.sql.Timestamp,
      highWatermark: Option[java.sql.Timestamp],
      rowCount: Long): Unit = {
    val line = Seq(
      "slice_id" -> sliceId, "slice_start" -> sliceStart, "slice_end" -> sliceEnd,
      "high_watermark_ts" -> highWatermark.orNull, "row_count" -> rowCount,
      "status" -> "committed")
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }
      .mkString("{", ", ", "}\n")
    writeDriverFile(spark, s"${wmPath(outDir)}/$sliceId.json", line)
  }

  /** Per-(slice, dt-partition) row counts, content hashes and
    * throughput — the "per-partition lineage + metrics" the north rule
    * asks for. Content hash is order-insensitive and ANSI-overflow-safe
    * (sum of 31-bit xxhash64 residues). ONE aggregate job computes the
    * per-dt stats; the rows land driver-side (tiny) and are written as
    * this slice's lineage JSONL file.
    */
  /** The ONE explicit column list (names AND order) both lineage paths
    * hash: the gold schema minus `text`, plus `text_len`. Shared so the
    * observe-fused hash and the file-based fallback hash are
    * bit-identical — xxhash64 is order-sensitive, and the read-back
    * files additionally carry `slice_id`, so deriving the list from
    * `df.columns` made the two paths' content_hash values incomparable
    * whenever one slice hit the metrics timeout or the wide-slice
    * fallback. Excluded columns: `text` so the lineage scan never
    * decodes the dominant column (text LENGTHS are transitively pinned
    * by the chars_sum/avg_chars/text_len features in the hash; text
    * integrity end-to-end by the per-turn text-equality fixtures and
    * parquet page checksums), and `slice_id` because it names the
    * writing slice, not the content.
    */
  private[graft] val lineageHashColNames: Seq[String] =
    graft.schema.TranscriptSchema.gold.fieldNames.toSeq.filterNot(_ == "text") :+ "text_len"

  def appendLineage(outDir: String, gold: DataFrame, sliceId: String, wallMs: Long)
      : (Long, Option[java.sql.Timestamp]) = {
    val cols = lineageHashColNames.map(col)
    val stats = gold.groupBy(col("dt"))
      .agg(count(lit(1)).as("row_count"),
        sum(pmod(xxhash64(cols: _*), lit(2147483647L))).as("content_hash"),
        max(col("ts")).as("hw_ts"))
      .collect()
    val rows = stats.map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
      Option(r.getAs[Any]("hw_ts"))))
    writeLineageRows(gold.sparkSession, outDir, sliceId, rows.toIndexedSeq, wallMs)
  }

  /** Lineage aggregate expressions FUSED into the gold write via
    * `Dataset.observe` — the per-(slice, dt) counts / content hashes /
    * high watermarks are collected WHILE the write job streams rows,
    * so the lineage costs zero extra jobs and zero extra scans (one
    * fewer fixed per-slice job = less Amdahl residue at N->4N). The
    * slice's dt range is known up front (slices are time ranges), so
    * each dt gets three conditional aggregates; the hash branch
    * evaluates xxhash64 once per row (only the matching dt's `when`
    * fires).
    */
  def lineageObserveExprs(
      gold: DataFrame, days: Seq[java.time.LocalDate]): Seq[org.apache.spark.sql.Column] = {
    val cols = lineageHashColNames.map(col) // same list as appendLineage, bit-identical hashes
    val h = pmod(xxhash64(cols: _*), lit(2147483647L))
    days.zipWithIndex.flatMap { case (d, i) =>
      val isD = col("dt") === lit(java.sql.Date.valueOf(d.toString))
      Seq(
        count(when(isD, 1)).as(s"cnt_$i"),
        sum(when(isD, h)).as(s"hash_$i"),
        max(when(isD, col("ts"))).as(s"mx_$i"))
    }
  }

  /** Write the lineage file from the observed-metrics row of the gold
    * write (the `lineageObserveExprs` layout). Returns (total rows,
    * high watermark).
    */
  def writeLineageFromMetrics(
      spark: SparkSession, outDir: String, sliceId: String,
      days: Seq[java.time.LocalDate], m: org.apache.spark.sql.Row, wallMs: Long)
      : (Long, Option[java.sql.Timestamp]) = {
    val rows = days.zipWithIndex.flatMap { case (d, i) =>
      val cnt = m.getAs[Long](s"cnt_$i")
      if (cnt == 0L) None
      else Some((d.toString, cnt, m.getAs[Long](s"hash_$i"), Option(m.getAs[Any](s"mx_$i"))))
    }
    writeLineageRows(spark, outDir, sliceId, rows, wallMs)
  }

  private def writeLineageRows(
      spark: SparkSession, outDir: String, sliceId: String,
      rows: Seq[(String, Long, Long, Option[Any])], wallMs: Long)
      : (Long, Option[java.sql.Timestamp]) = {
    val lines = rows.map { case (dt, cnt, hash, _) =>
      Seq(
        "slice_id" -> sliceId, "dt" -> dt,
        "row_count" -> cnt, "content_hash" -> hash,
        "wall_ms" -> wallMs,
        "rows_per_sec" -> (math.round(cnt * 100000.0 / math.max(wallMs, 1L)) / 100.0))
        .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }
        .mkString("{", ", ", "}")
    }.mkString("", "\n", "\n")
    writeDriverFile(spark, s"${linPath(outDir)}/$sliceId.json", lines)
    val total = rows.map(_._2).sum
    val hw = rows.flatMap(_._4).map {
      case t: java.sql.Timestamp => t
      case l: java.time.LocalDateTime => java.sql.Timestamp.valueOf(l)
    }.sortBy(_.getTime).lastOption
    (total, hw)
  }

  private val lineageSchema: StructType = StructType(Seq(
    StructField("slice_id", StringType), StructField("dt", DateType),
    StructField("row_count", LongType), StructField("content_hash", LongType),
    StructField("wall_ms", LongType), StructField("rows_per_sec", DoubleType)))

  def readLineage(spark: SparkSession, outDir: String): DataFrame =
    spark.read.schema(lineageSchema)
      .option("mode", "DROPMALFORMED").json(linPath(outDir))

  /** [[watermarks]] as a local DataFrame (a `LocalRelation`: filters
    * and projections over it run on the driver, no Spark job).
    */
  def readWatermarks(spark: SparkSession, outDir: String): DataFrame =
    spark.createDataFrame(
      watermarks(spark, outDir).map(w => Row(w.sliceId, w.sliceStart, w.sliceEnd,
        w.highWatermark.orNull, w.rowCount, w.status)).asJava,
      watermarkSchema)

  /** Column names in the parquet footer of the first data file under
    * `dir` (depth-first, names in sorted order; `_`/`.`-prefixed entries
    * skipped, as Spark's file index skips them), read on the driver —
    * the one footer Spark's non-merging schema inference would read,
    * without its job. None when `dir` holds no data file.
    */
  def firstFileColumns(spark: SparkSession, dir: String): Option[Seq[String]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    def first(p: org.apache.hadoop.fs.Path): Option[org.apache.hadoop.fs.Path] =
      fs.listStatus(p).sortBy(_.getPath.getName).iterator
        .filterNot(st => st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith("."))
        .flatMap(st => if (st.isDirectory) first(st.getPath) else Some(st.getPath))
        .nextOption()
    if (!fs.exists(root)) None
    else first(root).map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
      try r.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq
      finally r.close()
    }
  }

  /** INCREMENTAL conversation state (round-1 verdict #5b: the full
    * per-slice state rewrite was O(#conversations) per slice —
    * quadratic over a long backfill). Each slice appends only a DELTA
    * — the conversations it actually touched — under
    * `_meta/conv_state/slice_start=<sec>`; readers take, per
    * conversation, the row from the highest slice_start. COMPACTION
    * ([[compactConvState]], whenever the chain outgrows a small bound)
    * collapses the chain into a snapshot so the read stays O(active
    * conversations), not O(slices).
    *
    * A slice's delta dir is cleared before each write attempt
    * ([[clearConvStateDelta]]): a crashed slice that re-runs replaces
    * its own delta exactly (same resume contract as the data
    * partitions).
    *
    * This accessor gives the dir to the per-task side-file sink.
    */
  def stateDeltaDir(outDir: String, sliceStartSec: Long): String =
    stateDeltaPath(outDir, sliceStartSec)

  /** On-disk schema of the sweep's per-task parquet side-files
    * ([[StateSideWriter]]) — field ORDER is binding for the writer's
    * InternalRow layout; readers match by name.
    */
  val sideFileSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType, nullable = false),
    StructField("st_last_ts", TimestampType, nullable = false),
    StructField("st_last_turn_idx", IntegerType, nullable = false),
    StructField("st_last_role", StringType, nullable = true),
    StructField("st_sessions", IntegerType, nullable = false)))

  /** Append slice-meta rows (the heavy-path aggregate's output,
    * [[stateDeltaFromGold]]) to a slice's delta dir — same parquet
    * format as the sweep's per-task side-files, one dir, one read. Append mode: the side-files land
    * during the gold write; this lands after, for the few skew-routed
    * conversations the sweep never saw.
    */
  def appendSliceMeta(outDir: String, sliceStartSec: Long, meta: DataFrame): Unit =
    meta.write.mode(SaveMode.Append).parquet(stateDeltaPath(outDir, sliceStartSec))

  /** Remove a slice's state-delta dir (empty-slice fast path, and the
    * pre-clear before per-task state side-file writes).
    */
  def clearConvStateDelta(spark: SparkSession, outDir: String, sliceStartSec: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(stateDeltaPath(outDir, sliceStartSec))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** The delta chain strictly before `uptoExclusiveSec`, rebased on the
    * newest complete snapshot: rows (convStateSchema + slice_start),
    * possibly several per conversation — consumers keep the highest
    * slice_start (the fused sweep does this inline during its one
    * sort; small consumers use [[latestConvState]]).
    */
  def readConvStateDeltas(spark: SparkSession, outDir: String, uptoExclusiveSec: Long): DataFrame = {
    val snap = latestSnapshotSec(spark, outDir, uptoExclusiveSec)
    val deltas =
      if (exists(spark, stateDir(outDir)))
        readDeltaTable(spark, outDir, minExclusive = snap, maxExclusive = Some(uptoExclusiveSec))
          .filter(col("slice_start") < uptoExclusiveSec &&
            snap.map(s => col("slice_start") > s).getOrElse(lit(true)))
      else emptyDeltas(spark)
    snap match {
      case Some(s) =>
        spark.read.schema(convStateSchema).parquet(snapPath(outDir, s))
          .select(convStateSchema.fieldNames.map(col).toSeq :+ lit(s).as("slice_start"): _*)
          .unionByName(deltas)
      case None => deltas
    }
  }

  private def emptyDeltas(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], deltaFileSchema)

  /** Rows of the state-delta table: the conversation state plus the
    * `slice_start` partition value. Explicit on every read (no schema
    * inference job).
    */
  private val deltaFileSchema: StructType = StructType(
    convStateSchema.fields :+ StructField("slice_start", LongType, nullable = false))

  /** The whole state-delta table: parquet slice dirs — sweep
    * side-files and the heavy-path aggregate's appends share the
    * format. Dir names are
    * range-pruned DRIVER-side first — `(minExclusive, maxExclusive)`
    * on the slice_start value — so the read lists only the dirs a
    * chain read actually touches (post-compaction: <= MaxStateChain),
    * not every dir an old backfill ever wrote. Returns the
    * deltaFileSchema columns.
    */
  private[graft] def readDeltaTable(
      spark: SparkSession, outDir: String,
      minExclusive: Option[Long] = None, maxExclusive: Option[Long] = None): DataFrame = {
    val base = stateDir(outDir)
    val sliceDirs = numberedDirs(spark, base, "slice_start=")
      .filter { case (_, sec) =>
        minExclusive.forall(sec > _) && maxExclusive.forall(sec < _)
      }
    if (sliceDirs.isEmpty) emptyDeltas(spark)
    else spark.read.schema(deltaFileSchema).option("basePath", base)
      .parquet(sliceDirs.map(_._1.toString): _*)
      .select(deltaFileSchema.fieldNames.map(col).toSeq: _*)
  }

  /** `(path, n)` for each `<prefix><n>` subdirectory of `dir` (a
    * partition dir named by a long), listed on the driver with no
    * Spark job; empty when `dir` does not exist.
    */
  private[graft] def numberedDirs(
      spark: SparkSession, dir: String, prefix: String): Seq[(org.apache.hadoop.fs.Path, Long)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.isDirectory).flatMap { st =>
      val name = st.getPath.getName
      if (name.startsWith(prefix)) name.stripPrefix(prefix).toLongOption.map(st.getPath -> _)
      else None
    }
  }

  /** Slice state delta from written gold: the per-conversation
    * carried state as a plain map-side-combinable max_by — the same
    * rows the sweep's side-files hold (StateSideFileSpec). Used for
    * skew-routed conversations, which the sweep never sees. The
    * max_by key is (turn_idx, ts), NOT (ts, turn_idx): the dedup
    * horizon must be the highest committed ORDINAL even for
    * contract-violating ts-inverted conversations, and the lag chain
    * seeds in turn order, matching the declarative windows.
    */
  def stateDeltaFromGold(gold: DataFrame): DataFrame =
    gold.groupBy(col("conv_id"))
      .agg(
        max_by(struct(col("ts").as("st_last_ts"), col("turn_idx").as("st_last_turn_idx"),
          col("role").as("st_last_role")), struct(col("turn_idx"), col("ts"))).as("_st"),
        max(col("session_id")).as("st_sessions"))
      .select(col("conv_id"),
        col("_st.st_last_ts").as("st_last_ts"),
        col("_st.st_last_turn_idx").as("st_last_turn_idx"),
        col("_st.st_last_role").as("st_last_role"), col("st_sessions"))

  /** Latest state per conversation from a delta-chain read. */
  def latestConvState(deltas: DataFrame): DataFrame = {
    val cols = convStateSchema.fieldNames.filterNot(_ == "conv_id")
    deltas.groupBy(col("conv_id"))
      .agg(max_by(struct(cols.map(col): _*), col("slice_start")).as("_s"))
      .select(col("conv_id") +: cols.map(c => col(s"_s.$c")): _*)
  }

  /** Invalidate all checkpoint state for slices starting at or after
    * `fromSec`: watermark rows, state delta dirs, and snapshots.
    * The next [[graft.Backfill.run]] recomputes exactly those slices
    * (idempotent slice-dir overwrites); earlier slices stay committed.
    * Used by late-data reprocessing — a late row landing in a
    * committed slice invalidates that slice and everything downstream
    * of it (features and carried state after it change).
    */
  def invalidateFrom(spark: SparkSession, outDir: String, fromSec: Long): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    def del(path: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) { fs.delete(p, true); () }
    }
    def listNames(dir: String): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) Nil else fs.listStatus(p).toSeq.map(_.getPath.getName)
    }
    listNames(wmPath(outDir))
      .flatMap(n => n.stripSuffix(".json").stripPrefix("s").toLongOption.map(n -> _))
      .filter(_._2 >= fromSec)
      .foreach { case (n, _) => del(s"${wmPath(outDir)}/$n") }
    listNames(stateDir(outDir))
      .flatMap(n => n.stripPrefix("slice_start=").toLongOption.map(n -> _))
      .filter(_._2 >= fromSec)
      .foreach { case (n, _) => del(s"${stateDir(outDir)}/$n") }
    listNames(snapDir(outDir))
      .flatMap(n => n.stripPrefix("upto=").toLongOption.map(n -> _))
      .filter(_._2 >= fromSec)
      .foreach { case (n, _) => del(s"${snapDir(outDir)}/$n") }
    listNames(linPath(outDir))
      .flatMap(n => n.stripSuffix(".json").stripPrefix("s").toLongOption.map(n -> _))
      .filter(_._2 >= fromSec)
      .foreach { case (n, _) => del(s"${linPath(outDir)}/$n") }
  }

  /** Number of delta dirs a chain read at `uptoExclusiveSec` would
    * traverse (dirs after the newest snapshot). Drives ADAPTIVE
    * compaction: the chain read is O(chain length x touched
    * conversations), so the backfill compacts whenever the chain
    * exceeds a small bound instead of on a fixed slice cadence —
    * per-slice state reads stay flat across arbitrarily long backfills
    * (round-3 verdict: per-slice throughput decayed with slice index).
    * Driver-side FS listing; no Spark job.
    */
  def uncompactedDeltaDirs(spark: SparkSession, outDir: String, uptoExclusiveSec: Long): Int = {
    val snap = latestSnapshotSec(spark, outDir, uptoExclusiveSec)
    numberedDirs(spark, stateDir(outDir), "slice_start=").count { case (_, s) =>
      s < uptoExclusiveSec && snap.forall(s > _)
    }
  }

  /** Collapse the chain at `uptoInclusiveSec` into a snapshot. Only
    * called AFTER the covering slice committed; an interrupted write
    * leaves no _SUCCESS marker and is ignored by readers.
    */
  def compactConvState(spark: SparkSession, outDir: String, uptoInclusiveSec: Long): Unit = {
    val chain = readConvStateDeltas(spark, outDir, uptoInclusiveSec + 1)
    latestConvState(chain).write.mode(SaveMode.Overwrite)
      .parquet(snapPath(outDir, uptoInclusiveSec))
  }

  /** Newest COMPLETE (_SUCCESS-marked) snapshot strictly below
    * `uptoExclusiveSec`.
    */
  private def latestSnapshotSec(
      spark: SparkSession, outDir: String, uptoExclusiveSec: Long): Option[Long] = {
    val dir = new org.apache.hadoop.fs.Path(snapDir(outDir))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).toSeq
      .map(_.getPath)
      .filter(p => p.getName.startsWith("upto="))
      .map(p => (p.getName.stripPrefix("upto=").toLong, p))
      .filter { case (s, p) => s < uptoExclusiveSec && fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")) }
      .map(_._1).maxOption
  }
}
