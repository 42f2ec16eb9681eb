package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.TestListenerBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.TranscriptGen
import graft.gold.FeatureWindows
import graft.meta.{Checkpoint, FanOutParquet}
import graft.schema.TranscriptSchema
import graft.silver.SilverBuilder

/** Checkpoint/resume properties (FIXTURES.md §5): sliced backfill ==
  * single-shot run; kill-and-resume == single-shot; lineage has exactly
  * one committed row set per slice.
  */
class BackfillSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  // ~4 slices of 8 days over a 30-day generator span; 7d lookback
  // guarantees cross-slice window context is exercised
  private val start = 1704067200L
  private val sliceSecs = 8L * 86400
  private val nSlices = 5

  private lazy val bronze = TranscriptGen.transcripts(
    spark, nConvs = 30, avgTurns = 20, injectAnomalies = true).cache()

  private lazy val singleShot: DataFrame =
    FeatureWindows.gold(SilverBuilder.build(bronze)).cache()

  private def goldCols(df: DataFrame) = df.select(
    col("conv_id"), col("turn_idx"), col("role"), col("text"), col("tool"), col("ts"), col("dt"),
    col("turns_cnt_1h"), col("tool_calls_1h"), col("chars_sum_1h"),
    col("tool_distinct_24h"), col("avg_chars_7d"),
    col("prev_role"), col("gap_secs"), col("session_id"))

  private def assertSame(a: DataFrame, b: DataFrame): Unit = {
    val (ga, gb) = (goldCols(a), goldCols(b))
    assert(ga.count() == gb.count())
    assert(ga.exceptAll(gb).count() == 0 && gb.exceptAll(ga).count() == 0)
  }

  private def fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

  /** One fully committed table; specs that mutate it work on a copy. */
  private lazy val committedTable: String = {
    val dir = Files.createTempDirectory("bf_committed").toString
    Backfill.run(spark, bronze, dir, start, sliceSecs, nSlices)
    dir
  }

  private def copyOfCommitted(prefix: String): String = {
    val dst = Files.createTempDirectory(prefix).toString
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(committedTable),
      fs, new org.apache.hadoop.fs.Path(dst, "t"), false, spark.sparkContext.hadoopConfiguration)
    s"$dst/t"
  }

  /** The Spark JSON read of the watermark files that the driver reader
    * replaced: the reference its rows are pinned to.
    */
  private def sparkJsonWatermarks(dir: String): Set[org.apache.spark.sql.Row] =
    spark.read.schema(Checkpoint.watermarkSchema)
      .option("mode", "DROPMALFORMED")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSX")
      .json(s"$dir/_meta/watermarks").collect().toSet

  test("sliced backfill output == single-shot run (D5 fix, cross-slice state)") {
    val dir = Files.createTempDirectory("bf_sliced").toString
    val reports = Backfill.run(spark, bronze, dir, start, sliceSecs, nSlices)
    assert(reports.count(!_.skipped) == nSlices)
    val gold = spark.read.parquet(s"$dir/gold")
    assertSame(gold, singleShot)
  }

  test("kill mid-backfill (after gold write, before commit), resume -> identical result") {
    val dir = Files.createTempDirectory("bf_resume").toString
    val failAt = Backfill.sliceId(start + 2 * sliceSecs)
    val ex = intercept[RuntimeException] {
      Backfill.run(spark, bronze, dir, start, sliceSecs, nSlices,
        failAfterGoldWriteOfSlice = Some(failAt))
    }
    assert(ex.getMessage.contains("injected failure"))
    // only slices before the failure are committed
    val committed = Checkpoint.committedSlices(spark, dir)
    assert(committed == Set(Backfill.sliceId(start), Backfill.sliceId(start + sliceSecs)))
    // resume: re-runs the failed slice (its half-written gold is
    // idempotently overwritten) and the rest
    val reports = Backfill.run(spark, bronze, dir, start, sliceSecs, nSlices)
    assert(reports.count(_.skipped) == 2 && reports.count(!_.skipped) == 3)
    assertSame(spark.read.parquet(s"$dir/gold"), singleShot)
  }

  test("skew dispatch + state compaction: sliced == single-shot with a planted mega-conversation") {
    val megaBronze = TranscriptGen.transcripts(
      spark, nConvs = 20, avgTurns = 15, megaConvs = 2, megaTurns = 2000,
      injectAnomalies = true).cache()
    val oracle = FeatureWindows.gold(SilverBuilder.build(megaBronze))
    // every conversation takes the fused sweep: a threshold of 300,
    // below both mega-conversations, routes nothing — the same gold
    // from the same Spark jobs as no threshold. 4-day slices over the
    // same 40 days make the state chain outgrow 4 deltas at the 5th
    // slice, so the adaptive trigger writes a snapshot before the kill
    // below
    val (width, n) = (4L * 86400, 10)
    // the first scan of a cached frame runs a job of its own (AQE's
    // table-cache stage): load it before counting either run
    megaBronze.count()
    def runWith(thr: Option[Long]): (String, Int) = {
      val d = Files.createTempDirectory("bf_skew").toString
      val (_, jobs) = TestListenerBus.jobsDuring(spark.sparkContext)(
        Backfill.run(spark, megaBronze, d, start, width, n,
          skewHeavyThreshold = thr, segmentSecs = 2L * 86400))
      (d, jobs)
    }
    val (dir, thrJobs) = runWith(Some(300L))
    val (plainDir, plainJobs) = runWith(None)
    assert(thrJobs == plainJobs, s"$thrJobs jobs with the threshold vs $plainJobs without")
    val (a, b) = (spark.read.parquet(s"$dir/gold"), spark.read.parquet(s"$plainDir/gold"))
    assert(a.count() == b.count())
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    assertSame(a, oracle)
    // kill after the 6th slice's gold write: the resume reads state
    // through the snapshot + the deltas after it
    val dir2 = Files.createTempDirectory("bf_skew_resume").toString
    val failAt = Backfill.sliceId(start + 5 * width)
    intercept[RuntimeException] {
      Backfill.run(spark, megaBronze, dir2, start, width, n,
        skewHeavyThreshold = Some(300L), segmentSecs = 2L * 86400,
        failAfterGoldWriteOfSlice = Some(failAt))
    }
    val snapDir = new org.apache.hadoop.fs.Path(s"$dir2/_meta/conv_state_snapshot")
    assert(fs.exists(snapDir) && fs.listStatus(snapDir).exists(st =>
      fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS"))),
      "expected a _SUCCESS-marked state snapshot at the crash point")
    Backfill.run(spark, megaBronze, dir2, start, width, n,
      skewHeavyThreshold = Some(300L), segmentSecs = 2L * 86400)
    assertSame(spark.read.parquet(s"$dir2/gold"), oracle)
  }

  /** A nasty conversation: dense bursts crossing 2-day segment
    * boundaries, a quiet gap LONGER than the 7d lookback, ties at the
    * exact segment boundary second, duplicate turns with divergent
    * payloads, and tool calls.
    */
  private def nastyBronze: DataFrame = {
    import spark.implicits._
    val segSecs = 2L * 86400
    val rows = scala.collection.mutable.ArrayBuffer[(String, Int, String, String, Option[String], Long)]()
    var turn = 0
    // burst 1: 3000 turns at 50s ticks crossing the first boundary
    for (i <- 0 until 3000) {
      rows += (("nasty", turn, if (i % 3 == 0) "user" else "assistant",
        s"burst one text $i", if (i % 11 == 0) Some(s"t${i % 4}") else None,
        start + 100 + i * 50L))
      turn += 1
    }
    // ties at the exact segment boundary second
    for (i <- 0 until 5) {
      rows += (("nasty", turn, "tool", s"tie $i", Some("edge"), start + segSecs))
      turn += 1
    }
    // quiet gap longer than the 7d lookback, then a short burst
    val resume = start + segSecs + 604800L + 3600L
    for (i <- 0 until 500) {
      rows += (("nasty", turn, if (i % 2 == 0) "assistant" else "user",
        s"late burst $i", None, resume + i * 30L))
      turn += 1
    }
    // duplicate turn with a divergent payload (dedup must pick min)
    rows += (("nasty", 3100, "zz_dup", "zzzz should lose", None, resume + 400 * 30L))
    val extra = TranscriptGen.transcripts(spark, nConvs = 6, avgTurns = 12)
    rows.toSeq.toDF("conv_id", "turn_idx", "role", "text", "tool_s", "sec")
      .select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
        col("tool_s").as("tool"), timestamp_seconds(col("sec")).as("ts"))
      .unionByName(extra)
  }

  test("backfill with mid-size routed conversations == single-shot (fused heavy)") {
    val bronze = TranscriptGen.transcripts(spark, nConvs = 15, avgTurns = 12,
      megaConvs = 2, megaTurns = 3000, injectAnomalies = true)
      .unionByName(nastyBronze).cache()
    val dir = Files.createTempDirectory("segsweep").toString
    Backfill.run(spark, bronze, dir, start, 8L * 86400, 5,
      skewHeavyThreshold = Some(400L), segmentSecs = 2L * 86400)
    assertSame(spark.read.parquet(s"$dir/gold"), FeatureWindows.gold(SilverBuilder.build(bronze)))
    bronze.unpersist()
  }

  test("a skew threshold above every conversation adds no Spark job; gold is identical") {
    val sc = spark.sparkContext
    def runWith(thr: Option[Long]): (String, Int) = {
      val dir = Files.createTempDirectory("bf_thr").toString
      val (reports, jobs) = TestListenerBus.jobsDuring(sc)(
        Backfill.run(spark, bronze, dir, start, sliceSecs, nSlices, skewHeavyThreshold = thr))
      assert(reports.count(!_.skipped) == nSlices)
      (dir, jobs)
    }
    val (plainDir, plainJobs) = runWith(None)
    val (thrDir, thrJobs) = runWith(Some(10000000L))
    assert(thrJobs == plainJobs, s"$thrJobs jobs with the threshold vs $plainJobs without")
    val (a, b) = (spark.read.parquet(s"$thrDir/gold"), spark.read.parquet(s"$plainDir/gold"))
    assert(a.count() == b.count())
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("adaptive compaction: chain longer than 4 deltas snapshots even with periodic off") {
    // 2-day slices over the full span -> ~20 slices; compaction has no
    // other trigger, so any snapshot present proves the adaptive
    // chain-length trigger fired
    val dir = Files.createTempDirectory("bf_adaptive").toString
    Backfill.run(spark, bronze, dir, start, 2L * 86400, 20)
    val snapDir = new org.apache.hadoop.fs.Path(s"$dir/_meta/conv_state_snapshot")
    val fs = snapDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(snapDir) && fs.listStatus(snapDir).nonEmpty,
      "expected the adaptive trigger to write a state snapshot")
    // and the chain a reader traverses stays bounded at <= 4 + current
    val lastStart = start + 19 * 2L * 86400
    assert(graft.meta.Checkpoint.uncompactedDeltaDirs(spark, dir, lastStart + 1) <= 5)
    assertSame(spark.read.parquet(s"$dir/gold"), singleShot)
  }

  test("empty-slice fast path: sparse backfill commits zero-row watermarks and clears stale dirs") {
    // bronze restricted to slice 0 — slices 1..4 are empty
    val sparse = bronze.filter(
      col("ts") < timestamp_seconds(lit(start + sliceSecs))).cache()
    val dir = Files.createTempDirectory("bf_sparse").toString
    val full = Backfill.run(spark, bronze, dir, start, sliceSecs, nSlices)
    assert(full.forall(!_.skipped) && full.head.rows > 0 && full.tail.exists(_.rows > 0))
    // drop everything after slice 0 and re-run on the sparse bronze:
    // slice 1 pays the full (empty) pipeline once, slices 2..4 take
    // the probe fast path — and every stale dir from the full run must
    // be gone so gold equals the sparse single-shot
    Checkpoint.invalidateFrom(spark, dir, start + sliceSecs)
    val rerun = Backfill.run(spark, sparse, dir, start, sliceSecs, nSlices)
    assert(rerun.count(_.skipped) == 1 && rerun.filter(!_.skipped).forall(_.rows == 0))
    assertSame(spark.read.parquet(s"$dir/gold"),
      FeatureWindows.gold(SilverBuilder.build(sparse)))
    // empty slices contribute no state-delta dirs
    val stateDir = new org.apache.hadoop.fs.Path(s"$dir/_meta/conv_state")
    val fs = stateDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(stateDir).map(_.getPath.getName).filter(_.startsWith("slice_start="))
    assert(dirs.forall(_ == s"slice_start=$start"), dirs.mkString(","))
    // and a resume over the sparse table is a no-op (zero-row slices committed)
    assert(Backfill.run(spark, sparse, dir, start, sliceSecs, nSlices).forall(_.skipped))
  }

  test("a slice whose rows all fail validation commits 0 rows and leaves no gold dir") {
    import spark.implicits._
    // slice 1 keeps its bronze rows, but every one lacks its text
    val inSlice1 = col("ts") >= timestamp_seconds(lit(start + sliceSecs)) &&
      col("ts") < timestamp_seconds(lit(start + 2 * sliceSecs))
    val b = bronze.filter(!inSlice1)
      .unionByName(bronze.filter(inSlice1).withColumn("text", lit(null).cast("string")))
    val dir = Files.createTempDirectory("bf_invalid_slice").toString
    val reports = Backfill.run(spark, b, dir, start, sliceSecs, 3)
    assert(reports.map(r => (r.rows > 0, r.skipped)) == Seq((true, false), (false, false), (true, false)))
    val id = Backfill.sliceId(start + sliceSecs)
    assert(Checkpoint.watermarks(spark, dir).exists(w => w.sliceId == id && w.committed && w.rowCount == 0))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/gold/slice_id=$id")))
    // the online store still answers with no job, and agrees with the gold scan
    val h = spark.read.parquet(s"$dir/gold").drop("slice_id")
    val keys = h.select("conv_id").distinct().orderBy("conv_id").as[String].collect().take(8).toSeq
    val (got, jobs) = TestListenerBus.jobsDuring(spark.sparkContext)(
      graft.gold.AsOfJoin.latestForKeys(h, keys.toDF("conv_id")).collect())
    assert(jobs == 0, s"$jobs job(s) — the state-table path was not taken")
    val want = graft.gold.AsOfJoin.latestPerKey(h).filter(col("conv_id").isin(keys: _*)).collect()
    assert(got.sortBy(_.getAs[String]("conv_id")).toSeq == want.sortBy(_.getAs[String]("conv_id")).toSeq)
  }

  test("silver: the served projection == SilverBuilder.build; a materialized copy equals it, " +
      "with no stale slice dir after a sparse re-run") {
    val silverCols = TranscriptSchema.silver.fieldNames.map(col).toSeq
    def same(a: DataFrame, b: DataFrame): Unit = {
      assert(a.count() == b.count())
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    }
    val dir = Files.createTempDirectory("bf_silver").toString
    def sliceDirs(table: String): Set[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$table")).map(_.getPath.getName)
        .filter(_.startsWith("slice_id=")).toSet
    same(Backfill.readSilver(spark, committedTable).drop("slice_id"),
      SilverBuilder.build(bronze).select(silverCols: _*))
    Backfill.run(spark, bronze, dir, start, sliceSecs, nSlices, materializeSilver = true)
    same(spark.read.parquet(s"$dir/silver"), Backfill.readSilver(spark, dir))
    // the empty-slice case's sparse re-run: slice 1 runs the full
    // (empty) pipeline, slices 2..4 the probe fast path
    val sparse = bronze.filter(col("ts") < timestamp_seconds(lit(start + sliceSecs)))
    Checkpoint.invalidateFrom(spark, dir, start + sliceSecs)
    Backfill.run(spark, sparse, dir, start, sliceSecs, nSlices, materializeSilver = true)
    same(spark.read.parquet(s"$dir/silver"), Backfill.readSilver(spark, dir))
    same(Backfill.readSilver(spark, dir).drop("slice_id"),
      SilverBuilder.build(sparse).select(silverCols: _*))
    assert(sliceDirs("silver") == sliceDirs("gold"),
      s"silver ${sliceDirs("silver")} vs gold ${sliceDirs("gold")}")
  }

  test("gold file count per slice is bounded by data size, not core count") {
    // simulate a big cluster: 64 shuffle partitions would give the
    // legacy 8x exchange 512 files per slice regardless of data size;
    // the size-targeted exchange writes ~bytes/8MB files (here: ~1)
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    try {
      val dir = Files.createTempDirectory("bf_filecount").toString
      Backfill.run(spark, bronze, dir, start, sliceSecs, nSlices)
      val goldDir = new org.apache.hadoop.fs.Path(s"$dir/gold")
      val fs = goldDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(goldDir).filter(_.getPath.getName.startsWith("slice_id=")).foreach { d =>
        val files = fs.listStatus(d.getPath).count(_.getPath.getName.endsWith(".parquet"))
        assert(files <= 8, s"${d.getPath.getName}: $files files for a ~kB slice")
      }
      assertSame(spark.read.parquet(s"$dir/gold"), singleShot)
    } finally spark.conf.set("spark.sql.shuffle.partitions", old)
  }

  test("a conversation above the fan-out row count: gold == single-shot from sibling files, " +
      "lineage and lookups agree") {
    import spark.implicits._
    // the generator's mega starts at `start`: its ~9 hours of turns fill
    // one sweep task of slice 0 past FanOutParquet.InlineRows
    val megaBronze = TranscriptGen.transcripts(spark, nConvs = 20, avgTurns = 12,
      megaConvs = 1, megaTurns = FanOutParquet.InlineRows + 8000).cache()
    val dir = Files.createTempDirectory("bf_fanout").toString
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Int)]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        stages.add((e.stageInfo.stageId, e.stageInfo.name, e.stageInfo.numTasks))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      Backfill.run(spark, megaBronze, dir, start, sliceSecs, nSlices)
      TestListenerBus.drain(sc)
    } finally sc.removeSparkListener(l)
    assertSame(spark.read.parquet(s"$dir/gold"), FeatureWindows.gold(SilverBuilder.build(megaBronze)))
    // slice 0's write: its sweep partitions, and more files than that
    val id = Backfill.sliceId(start)
    val sweepParts = stages.asScala.toSeq.sortBy(_._1)
      .collectFirst { case (_, name, tasks) if name.startsWith("save at Backfill.scala") => tasks }.get
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/gold/slice_id=$id"))
      .map(_.getPath.getName).filter(_.endsWith(".parquet"))
    assert(files.length > sweepParts, s"${files.length} files for $sweepParts sweep partitions")
    assert(files.exists(_.matches(""".*-f\d+\..*""")), files.mkString(", "))
    // the observed lineage hash == the fallback aggregate over the files
    val alt = Files.createTempDirectory("bf_fanout_alt").toString
    Checkpoint.appendLineage(alt, spark.read.parquet(s"$dir/gold").filter(col("slice_id") === id), id, 1L)
    def hashes(lin: DataFrame) =
      lin.select("dt", "row_count", "content_hash").collect().map(_.toSeq).toSet
    val obs = hashes(Checkpoint.readLineage(spark, dir).filter(col("slice_id") === id))
    assert(obs.nonEmpty && obs == hashes(Checkpoint.readLineage(spark, alt)))
    // the online store answers the mega's lookup as the gold scan does
    val h = spark.read.parquet(s"$dir/gold").drop("slice_id")
    val keys = "conv_000000000" +: h.select("conv_id").distinct().orderBy("conv_id")
      .as[String].collect().take(6).toSeq
    val got = graft.gold.AsOfJoin.latestForKeys(h, keys.distinct.toDF("conv_id")).collect()
    val want = graft.gold.AsOfJoin.latestPerKey(h).filter(col("conv_id").isin(keys: _*)).collect()
    assert(got.sortBy(_.getAs[String]("conv_id")).toSeq == want.sortBy(_.getAs[String]("conv_id")).toSeq)
    megaBronze.unpersist()
  }

  test("lineage content_hash is comparable across the observe and file-based fallback paths") {
    val dir = Files.createTempDirectory("bf_hashpar").toString
    Backfill.run(spark, bronze, dir, start, sliceSecs, nSlices)
    val lin = Checkpoint.readLineage(spark, dir) // observe-fused hashes
    val id = Backfill.sliceId(start)
    val goldWritten = spark.read.parquet(s"$dir/gold").filter(col("slice_id") === id)
    val alt = Files.createTempDirectory("bf_hashpar_alt").toString
    Checkpoint.appendLineage(alt, goldWritten, id, 1L) // legacy aggregate over the files
    val altLin = Checkpoint.readLineage(spark, alt)
    val obs = lin.filter(col("slice_id") === id)
      .select("dt", "row_count", "content_hash").collect().map(_.toSeq).toSet
    val fb = altLin.select("dt", "row_count", "content_hash").collect().map(_.toSeq).toSet
    assert(obs.nonEmpty && obs == fb, s"observe=$obs fallback=$fb")
  }

  test("lineage: per-(slice, dt) rows with counts, hashes, throughput; watermarks committed") {
    val dir = Files.createTempDirectory("bf_lineage").toString
    Backfill.run(spark, bronze, dir, start, sliceSecs, nSlices)
    val lin = Checkpoint.readLineage(spark, dir)
    assert(lin.columns.toSet == Set("dt", "row_count", "content_hash", "slice_id", "wall_ms", "rows_per_sec"))
    assert(lin.groupBy("slice_id", "dt").count().filter(col("count") > 1).count() == 0)
    assert(lin.agg(sum("row_count")).collect()(0).getLong(0) == singleShot.count())
    val wm = Checkpoint.readWatermarks(spark, dir)
    assert(wm.filter(col("status") === "committed").select("slice_id").distinct().count() == nSlices)
    // re-run is a no-op (all skipped)
    val again = Backfill.run(spark, bronze, dir, start, sliceSecs, nSlices)
    assert(again.forall(_.skipped))
  }

  test("resume over a fully committed table launches zero Spark jobs; so does committedSlices") {
    val dir = copyOfCommitted("bf_nojobs")
    // control: the listener sees the jobs of a collect
    val sc = spark.sparkContext
    assert(TestListenerBus.jobsDuring(sc)(bronze.select("conv_id").distinct().collect())._2 > 0)
    val (reports, resumeJobs) =
      TestListenerBus.jobsDuring(sc)(Backfill.run(spark, bronze, dir, start, sliceSecs, nSlices))
    assert(reports.size == nSlices && reports.forall(_.skipped))
    assert(resumeJobs == 0, s"$resumeJobs Spark job(s) on a no-op resume")
    val (ids, idJobs) = TestListenerBus.jobsDuring(sc)(Checkpoint.committedSlices(spark, dir))
    assert(ids.size == nSlices && idJobs == 0)
  }

  test("guard: a resume with a different sliceSecs is rejected") {
    val dir = copyOfCommitted("bf_width_guard")
    val ex = intercept[IllegalArgumentException](
      Backfill.run(spark, bronze, dir, start, 2 * sliceSecs, nSlices))
    assert(ex.getMessage.contains("does not match sliceSecs"))
  }

  test("guard: a committed table whose gold files lack text_len is rejected") {
    val dir = copyOfCommitted("bf_text_len_guard")
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/gold"))
      .filter(_.getPath.getName.startsWith("slice_id=")).foreach { st =>
        val tmp = new org.apache.hadoop.fs.Path(s"$dir/rewrite_${st.getPath.getName}")
        spark.read.parquet(st.getPath.toString).drop("text_len").write.parquet(tmp.toString)
        fs.delete(st.getPath, true)
        fs.rename(tmp, st.getPath)
      }
    assert(!spark.read.parquet(s"$dir/gold").columns.contains("text_len"))
    val ex = intercept[IllegalArgumentException](
      Backfill.run(spark, bronze, dir, start, sliceSecs, nSlices))
    assert(ex.getMessage.contains("lacks the text_len column"))
  }

  test("crash during the watermark write: the slice reads as uncommitted and re-runs alone") {
    val last = Backfill.sliceId(start + (nSlices - 1) * sliceSecs)
    assert(Checkpoint.readWatermarks(spark, committedTable).collect().toSet ==
      sparkJsonWatermarks(committedTable))
    val damage: Seq[(String, String => String)] = Seq(
      "truncated file" -> (line => line.take(line.length / 2)),
      "malformed timestamp" -> (_.replaceFirst(
        "\"slice_end\": \"[^\"]*\"", "\"slice_end\": \"2024-02-10T00:00:00\"")),
      "status not committed" -> (_.replace("\"committed\"", "\"pending\"")))
    damage.foreach { case (what, corrupt) =>
      val dir = copyOfCommitted("bf_wm_crash")
      val wm = java.nio.file.Paths.get(s"$dir/_meta/watermarks/$last.json")
      val line = new String(Files.readAllBytes(wm), "UTF-8")
      val bad = corrupt(line)
      assert(bad != line, what)
      Files.write(wm, bad.getBytes("UTF-8"))
      // the local FS checksum no longer matches the rewritten bytes
      Files.deleteIfExists(wm.resolveSibling(s".$last.json.crc"))
      // the driver reader returns the rows the Spark JSON read returned
      val rows = Checkpoint.readWatermarks(spark, dir).collect().toSet
      assert(rows == sparkJsonWatermarks(dir), what)
      assert(rows.size == (if (what == "status not committed") nSlices else nSlices - 1), what)
      assert(Checkpoint.committedSlices(spark, dir) ==
        (0 until nSlices - 1).map(i => Backfill.sliceId(start + i * sliceSecs)).toSet, what)
      val reports = Backfill.run(spark, bronze, dir, start, sliceSecs, nSlices)
      assert(reports.filterNot(_.skipped).map(_.sliceId) == Seq(last), what)
      assert(Checkpoint.committedSlices(spark, dir).size == nSlices, what)
      assertSame(spark.read.parquet(s"$dir/gold"), singleShot)
    }
  }
}
