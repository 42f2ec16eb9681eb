package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.TranscriptGen
import graft.gold.{FeatureWindows, FusedSweep}
import graft.silver.SilverBuilder

/** The segmented heavy path (each (conv, time-segment) through the
  * fused sweep, state rows chained by a narrow summary pass) must be
  * row-identical to both the light fused sweep and the declarative
  * single-shot — including gaps wider than the replication reach (the
  * chained state row supplies the true predecessor), ts ties
  * straddling segment boundaries, duplicate turns, and carried
  * cross-slice state.
  */
class SegmentedSweepSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val start = 1704067200L

  private val goldCols = Seq(
    "conv_id", "turn_idx", "role", "text", "tool", "ts", "dt",
    "turns_cnt_1h", "tool_calls_1h", "chars_sum_1h", "tool_distinct_24h", "avg_chars_7d",
    "prev_role", "gap_secs", "session_id")

  private def assertSame(a: DataFrame, b: DataFrame, hint: String = ""): Unit = {
    val (ga, gb) = (a.select(goldCols.map(col): _*), b.select(goldCols.map(col): _*))
    assert(ga.count() == gb.count(), hint)
    assert(ga.exceptAll(gb).count() == 0 && gb.exceptAll(ga).count() == 0, hint)
  }

  private def emptyState = graft.meta.Checkpoint.readConvStateDeltas(spark, "/nonexistent_x", 0L)
  private def emptyContext = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    org.apache.spark.sql.types.StructType(graft.schema.TranscriptSchema.silver.fields))

  /** A nasty conversation: dense bursts crossing segment boundaries,
    * a quiet gap LONGER than the 7d lookback (the predecessor is
    * beyond replication reach — only the chain seed knows it), ties at
    * the exact segment boundary second, duplicate turns with divergent
    * payloads, and tool calls.
    */
  private def nastyBronze: DataFrame = {
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

  test("fused segmented == light sweep == declarative (no carried state)") {
    val bronze = nastyBronze.cache()
    val sliceBronze = SilverBuilder.validate(bronze)
    val viaLight = FusedSweep.gold(emptyState, sliceBronze)
    val fused = Backfill.heavyGold(emptyState, emptyContext, sliceBronze,
      start = 0L, gapSecs = 1800L, segmentSecs = 2L * 86400)
    assertSame(fused, viaLight, "fused vs light")
    assertSame(fused, FeatureWindows.gold(SilverBuilder.build(bronze)), "fused vs declarative")
    bronze.unpersist()
  }

  test("feeders replicate into exactly the lookback segments after their own") {
    val segSecs = 86400L
    def silverRow(conv: String, turn: Int, sec: Long) =
      (conv, turn, "user", s"text $turn", Option.empty[String], sec)
    val silverH = ((0 until 10).map(i => silverRow("short", i, start + i)) ++
      (0 until 5).map(i => silverRow("long", i, start + 1000 + i)) ++
      (0 until 4).map(i => silverRow("long", 5 + i, start + 3 * segSecs + i)))
      .toDF("conv_id", "turn_idx", "role", "text", "tool_s", "sec")
      .select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
        col("tool_s").as("tool"), timestamp_seconds(col("sec")).as("ts"))
    // committed context the day before the slice (segment s0-1)
    val ctx = Seq(("long", -1, start - 3600), ("short", -1, start - 7200))
      .toDF("conv_id", "turn_idx", "sec")
      .select(col("conv_id"), col("turn_idx"), lit("user").as("role"),
        lit(null).cast("string").as("text"), lit(null).cast("string").as("tool"),
        timestamp_seconds(col("sec")).as("ts"), lit(7L).as("_fw_len"))
    val feeders = graft.gold.SegmentedSweep.feeders(silverH, ctx, segSecs, lookbackSecs = 604800L)
      .withColumn("_off", col("_seg") - floor(col("t") / segSecs))
    def offsets(rows: DataFrame): Map[Long, Long] = rows.groupBy("_off").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a 7d frame reaches back 7 one-day segments: slice rows feed the
    // 7 after their own (their own sees them as owners), committed
    // context rows their own segment too
    assert(offsets(feeders.filter(col("t") >= start)) == (1L to 7L).map(_ -> 19L).toMap)
    assert(offsets(feeders.filter(col("t") < start)) == (0L to 7L).map(_ -> 2L).toMap)
    assert(feeders.filter(col("len") =!= 7L && col("t") < start).isEmpty, "ctx feeders keep _fw_len")
  }

  test("quiet routed conversation (context, no slice rows): no rows, gold schema") {
    // a carried heavy id whose conversation went quiet: its committed
    // lookback events still reach the heavy path, its slice rows do not
    val quiet = nastyBronze.filter(col("conv_id") === "nasty").cache()
    val context = SilverBuilder.build(quiet).select(emptyContext.columns.map(col): _*)
    assert(context.count() > 0)
    val noSliceRows = SilverBuilder.validate(quiet.limit(0))
    val out = Backfill.heavyGold(emptyState, context, noSliceRows,
      start = start, gapSecs = 1800L, segmentSecs = 2L * 86400)
    assert(out.schema == FusedSweep.gold(emptyState, noSliceRows).schema)
    assert(out.collect().isEmpty)
    quiet.unpersist()
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
}
