package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.TranscriptGen
import graft.gold.{FeatureWindows, FusedSweep}
import graft.meta.Checkpoint
import graft.silver.SilverBuilder

/** The fused InternalRow sweep must be row-identical to the
  * declarative pipeline (SilverBuilder dedup + FeatureWindows range
  * features + lag/sessionize) — including injected duplicate rows,
  * null conv_ids filtered upstream, epoch-second ties, and session
  * boundaries. Also covers the heavy-path twin.
  */
class FusedSweepSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private lazy val bronze = TranscriptGen.transcripts(
    spark, nConvs = 40, avgTurns = 25, injectAnomalies = true).cache()

  private def emptyState = Checkpoint.readConvStateDeltas(spark, "/nonexistent_dir_x", 0L)
  private def emptyContext = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    org.apache.spark.sql.types.StructType(graft.schema.TranscriptSchema.silver.fields))

  private def declarative(b: DataFrame): DataFrame =
    FeatureWindows.gold(SilverBuilder.build(b))

  private val goldCols = Seq(
    "conv_id", "turn_idx", "role", "text", "tool", "ts", "dt",
    "turns_cnt_1h", "tool_calls_1h", "chars_sum_1h", "tool_distinct_24h", "avg_chars_7d",
    "prev_role", "gap_secs", "session_id")

  private def assertSame(a: DataFrame, b: DataFrame): Unit = {
    val ga = a.select(goldCols.map(col): _*)
    val gb = b.select(goldCols.map(col): _*)
    assert(ga.count() == gb.count())
    assert(ga.exceptAll(gb).count() == 0 && gb.exceptAll(ga).count() == 0)
  }

  test("fused sweep == declarative pipeline on anomalous data (no state/context)") {
    val fused = FusedSweep.gold(emptyState, SilverBuilder.validate(bronze))
    assertSame(fused, declarative(bronze))
  }

  test("fused sweep handles ts ties across turns (whole tie group in frame)") {
    import spark.implicits._
    // 4 turns at the same second, then a session break, then 2 more ties
    val b = Seq(
      ("c1", 0, "user", "aaaa", None, 1000L),
      ("c1", 1, "assistant", "bb", None, 1000L),
      ("c1", 2, "tool", "cc", Some("t1"), 1000L),
      ("c1", 3, "user", "ddd", None, 1000L),
      ("c1", 4, "assistant", "e", Some("t2"), 4000L),
      ("c1", 5, "tool", "ff", Some("t1"), 4000L)
    ).toDF("conv_id", "turn_idx", "role", "text", "tool_s", "sec")
      .select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
        col("tool_s").as("tool"), timestamp_seconds(col("sec")).as("ts"))
    val fused = FusedSweep.gold(emptyState, b)
    assertSame(fused, declarative(b))
    // every tie row sees the full tie group (RANGE semantics)
    val r = fused.filter(col("turn_idx") === 0).select("turns_cnt_1h").head().getLong(0)
    assert(r == 4L)
  }

  test("fused sweep rejects ts that decreases within a conversation") {
    import spark.implicits._
    val b = Seq(
      ("c1", 0, "user", "x", 2000L),
      ("c1", 1, "user", "y", 1000L)
    ).toDF("conv_id", "turn_idx", "role", "text", "sec")
      .select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
        lit(null).cast("string").as("tool"), timestamp_seconds(col("sec")).as("ts"))
    val ex = intercept[org.apache.spark.SparkException] {
      FusedSweep.gold(emptyState, b).count()
    }
    assert(ex.getMessage.contains("precondition") ||
      Option(ex.getCause).exists(_.getMessage.contains("precondition")))
  }

  test("heavyGold == fused light path on the same mega-conversation slice") {
    val mega = TranscriptGen.transcripts(spark, nConvs = 3, avgTurns = 10,
      megaConvs = 1, megaTurns = 3000, injectAnomalies = true)
    val start = 1704067200L
    val sliceBronze = SilverBuilder.validate(mega)
    val viaLight = FusedSweep.gold(emptyState, sliceBronze)
    val viaHeavy = Backfill.heavyGold(emptyState, emptyContext, sliceBronze,
      start = 0L, gapSecs = 1800L, segmentSecs = 86400L)
    assertSame(viaLight, viaHeavy)
  }
}
