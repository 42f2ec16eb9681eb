package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.TranscriptGen
import graft.gold.{FastWindows, FeatureWindows}
import graft.silver.SilverBuilder

/** The O(n) sliding sweep must be bit-identical to the declarative
  * window formulation on every input shape, including ts ties.
  */
class FastWindowsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val featureCols =
    Seq("conv_id", "turn_idx", "turns_cnt_1h", "tool_calls_1h", "chars_sum_1h",
      "tool_distinct_24h", "avg_chars_7d")

  private def assertSame(a: DataFrame, b: DataFrame): Unit = {
    val (ga, gb) = (a.select(featureCols.map(col): _*), b.select(featureCols.map(col): _*))
    assert(ga.count() == gb.count())
    assert(ga.exceptAll(gb).count() == 0 && gb.exceptAll(ga).count() == 0)
  }

  test("fast == declarative on generated transcripts (incl. mega conversation)") {
    val silver = SilverBuilder.build(
      TranscriptGen.transcripts(spark, nConvs = 25, avgTurns = 20, megaConvs = 1, megaTurns = 400))
    assertSame(FastWindows.rangeFeatures(silver), FeatureWindows.rangeFeatures(silver))
  }

  test("fast == declarative with ts ties (RANGE-frame tie semantics)") {
    import spark.implicits._
    // several rows at the same second, across frame boundaries
    val base = 1704067200L
    val rows = Seq(
      ("c", 0, base), ("c", 1, base), ("c", 2, base), // 3-way tie
      ("c", 3, base + 3600), // exactly on the 1h boundary (inclusive)
      ("c", 4, base + 3601), ("c", 5, base + 3601), // tie just past it
      ("c", 6, base + 90000), ("c", 7, base + 90000)) // past 24h
      .toDF("conv_id", "turn_idx", "tsec")
      .select(col("conv_id"), col("turn_idx"),
        lit("user").as("role"),
        concat(lit("text "), col("turn_idx").cast("string")).as("text"),
        when(col("turn_idx") % 2 === 0, concat(lit("t"), (col("turn_idx") % 3).cast("string"))).as("tool"),
        timestamp_seconds(col("tsec")).as("ts"))
    assertSame(FastWindows.rangeFeatures(rows), FeatureWindows.rangeFeatures(rows))
    // spot-check the inclusive boundary: turn 3 at +3600 sees turns 0-3
    val r3 = FastWindows.rangeFeatures(rows).filter(col("turn_idx") === 3).head()
    assert(r3.getAs[Long]("turns_cnt_1h") == 4)
  }

  test("fast chunked == declarative at 1-day, 3.5-day and 7-day segments") {
    val silver = SilverBuilder.build(
      TranscriptGen.transcripts(spark, nConvs = 15, avgTurns = 15, megaConvs = 1, megaTurns = 600))
    val ref = FeatureWindows.rangeFeatures(silver)
    // small segments (high parallelism, 8x replication), the benches'
    // 3.5 days, and segment = max lookback (2x replication)
    Seq(86400L, 302400L, 604800L).foreach { seg =>
      assertSame(FastWindows.rangeFeaturesChunked(silver, segmentSecs = seg), ref)
    }
  }
}
