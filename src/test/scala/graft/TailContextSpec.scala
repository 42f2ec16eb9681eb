package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.TranscriptGen
import graft.gold.FeatureWindows
import graft.silver.SilverBuilder

/** Cross-slice context behaviors of the backfill: committed lookback
  * events reach later slices as a narrow rescan of committed gold, the
  * ts-inversion catch-and-reroute, horizon-free committed-turn dedup,
  * and the per-slice heavy/light dispatch — each bit-equal to the
  * single-shot declarative pipeline.
  */
class TailContextSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val start = 1704067200L
  private val sliceSecs = 8L * 86400
  private val nSlices = 5

  private val goldCols = Seq(
    "conv_id", "turn_idx", "role", "text", "tool", "ts", "dt",
    "turns_cnt_1h", "tool_calls_1h", "chars_sum_1h", "tool_distinct_24h", "avg_chars_7d",
    "prev_role", "gap_secs", "session_id")

  private def assertSame(a: DataFrame, b: DataFrame): Unit = {
    val (ga, gb) = (a.select(goldCols.map(col): _*), b.select(goldCols.map(col): _*))
    assert(ga.count() == gb.count())
    assert(ga.exceptAll(gb).count() == 0 && gb.exceptAll(ga).count() == 0)
  }

  private def rows(tuples: Seq[(String, Int, String, String, Option[String], Long)]): DataFrame =
    tuples.toDF("conv_id", "turn_idx", "role", "text", "tool_s", "sec")
      .select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
        col("tool_s").as("tool"), timestamp_seconds(col("sec")).as("ts"))

  test("ts-inverted conversation is caught and rerouted; backfill == single-shot declarative") {
    val base = TranscriptGen.transcripts(spark, nConvs = 15, avgTurns = 12)
    // inversion crossing hours AND a heavy-path segment boundary:
    // turn 2 jumps back below turn 1, turn 4 below turn 3
    val inv = rows(Seq(
      ("inv_a", 0, "user", "hello there", None, start + 1000),
      ("inv_a", 1, "assistant", "reply one", None, start + 90000),
      ("inv_a", 2, "tool", "late clock", Some("t1"), start + 2000),
      ("inv_a", 3, "user", "more text here", None, start + 95000),
      ("inv_a", 4, "assistant", "back again", Some("t2"), start + 94000),
      // second inverted conversation living in a LATER slice
      ("inv_b", 0, "user", "x y z", None, start + 2 * sliceSecs + 100),
      ("inv_b", 1, "user", "w", None, start + 2 * sliceSecs + 50)))
    val bronze = base.unionByName(inv).cache()
    val dir = Files.createTempDirectory("bf_inv").toString
    val reports = Backfill.run(spark, bronze, dir, start, sliceSecs, nSlices)
    assert(reports.count(!_.skipped) == nSlices)
    assertSame(spark.read.parquet(s"$dir/gold"),
      FeatureWindows.gold(SilverBuilder.build(bronze)))

    // the same catch on the segmented heavy path: each conversation
    // below crosses the skew threshold (400) before its inversion, so
    // it is routed first and must be caught there
    def turn(conv: String, i: Int, sec: Long) =
      (conv, i, if (i % 3 == 0) "user" else "assistant", s"$conv turn $i",
        if (i % 7 == 0) Some(s"tool_${i % 3}") else None, sec)
    val segSecs = 2L * 86400
    // epoch-aligned segment boundary (start itself is not aligned)
    val boundary = (start / segSecs + 1) * segSecs
    val s1 = start + sliceSecs
    val routed = Seq(
      // (a) turn 900 is 2 h early: an inversion inside one segment
      "within a segment" -> (0 until 1000).map(i =>
        turn("inv_seg", i, start + 1000 + i * 60L - (if (i == 900) 7200L else 0L))),
      // (b) turn 599 at boundary + 5 s, turn 600 at boundary - 5 s:
      // both segments are ts-sorted in turn order, only the turn
      // ranges across the boundary overlap
      "across a segment boundary" -> (0 until 1000).map(i =>
        turn("inv_edge", i,
          if (i == 599) boundary + 5 else if (i == 600) boundary - 5
          else boundary + (i - 600) * 60L)),
      // (c) heavy in slice 0 (carried into slice 1's first attempt),
      // then turn 505 is 2 h early in slice 1
      "in a later slice of a carried heavy" -> ((0 until 500).map(i =>
        turn("inv_carry", i, s1 - 86400 + i * 60L)) ++ (500 until 510).map(i =>
        turn("inv_carry", i, s1 + 10000 + (i - 500) * 600L - (if (i == 505) 7200L else 0L)))))
    for ((what, conv) <- routed) {
      val routedBronze = base.unionByName(rows(conv)).cache()
      val routedDir = Files.createTempDirectory("bf_inv_routed").toString
      Backfill.run(spark, routedBronze, routedDir, start, sliceSecs, nSlices,
        skewHeavyThreshold = Some(400L), segmentSecs = segSecs)
      withClue(s"inversion $what: ") {
        assertSame(spark.read.parquet(s"$routedDir/gold"),
          FeatureWindows.gold(SilverBuilder.build(routedBronze)))
      }
      routedBronze.unpersist()
    }
  }

  test("ts-inverted conversation continued in the next slice == single-shot") {
    // slice 0 ends with two inverted conversations inside slice 1's
    // lookback; their committed rows come back to slice 1 as rescan
    // context out of turn order (ts-sorted), and slice 1's own rows
    // are contract-clean, so slice 1 runs them on the light sweep
    val s1 = start + sliceSecs
    val inv = rows(Seq(
      // last committed turn by ordinal (turn 4) is NOT the latest by ts
      ("inv_c", 0, "user", "opening words", None, s1 - 3 * 86400),
      ("inv_c", 1, "assistant", "a reply", Some("t1"), s1 - 2 * 86400),
      ("inv_c", 2, "tool", "clock went back", Some("t2"), s1 - 2 * 86400 - 7200),
      ("inv_c", 3, "user", "later text", None, s1 - 20000),
      ("inv_c", 4, "assistant", "back again", Some("t1"), s1 - 30000),
      ("inv_c", 5, "user", "next slice", None, s1 + 600),
      ("inv_c", 6, "assistant", "and more", Some("t3"), s1 + 90000),
      // inversion within the last hour of slice 0: slice 1's 1h and
      // 24h frames see both inverted rows
      ("inv_d", 0, "user", "near the boundary", None, s1 - 1200),
      ("inv_d", 1, "assistant", "earlier clock", Some("t9"), s1 - 2400),
      ("inv_d", 2, "user", "over the edge", None, s1 + 60),
      ("inv_d", 3, "tool", "tie", Some("t9"), s1 + 60)))
    val bronze = TranscriptGen.transcripts(spark, nConvs = 12, avgTurns = 10)
      .unionByName(inv).cache()
    val dir = Files.createTempDirectory("bf_inv_next").toString
    val reports = Backfill.run(spark, bronze, dir, start, sliceSecs, nSlices)
    assert(reports.count(!_.skipped) == nSlices)
    val gold = spark.read.parquet(s"$dir/gold")
    assert(gold.filter(col("conv_id").isin("inv_c", "inv_d") &&
      col("slice_id") === Backfill.sliceId(s1)).count() == 4)
    assertSame(gold, FeatureWindows.gold(SilverBuilder.build(bronze)))
  }

  test("re-send of a committed turn beyond the 7d frame lookback is dropped (horizon-free dedup)") {
    val conv = rows(Seq(
      ("re_a", 0, "user", "first", None, start + 100),
      ("re_a", 1, "assistant", "second", Some("t1"), start + 200),
      ("re_a", 2, "user", "third", None, start + 300),
      // turn 1 re-sent 20 days later (two slices + beyond lookback),
      // with a text variant that would win dedup if both were visible
      ("re_a", 1, "assistant", "AAAA variant", None, start + 20 * 86400)))
    val bronze = TranscriptGen.transcripts(spark, nConvs = 8, avgTurns = 10)
      .unionByName(conv).cache()
    val dir = Files.createTempDirectory("bf_resend").toString
    Backfill.run(spark, bronze, dir, start, sliceSecs, nSlices)
    val gold = spark.read.parquet(s"$dir/gold")
    // the committed original is the single-shot winner (min ts); the
    // re-send must not appear
    assert(gold.filter(col("conv_id") === "re_a" && col("turn_idx") === 1).count() == 1)
    assert(gold.filter(col("text") === "AAAA variant").count() == 0)
    assertSame(gold, FeatureWindows.gold(SilverBuilder.build(bronze)))
  }

  test("8-day and 2-day slices are bit-equal to the single-shot run") {
    // 2-day slices against the 7-day lookback: each slice reads the
    // context of up to four committed slices
    val bronze = TranscriptGen.transcripts(spark, nConvs = 25, avgTurns = 18,
      injectAnomalies = true).cache()
    val oracle = FeatureWindows.gold(SilverBuilder.build(bronze))
    for ((width, n) <- Seq((sliceSecs, nSlices), (2L * 86400, 20))) {
      val dir = Files.createTempDirectory(s"bf_w$width").toString
      Backfill.run(spark, bronze, dir, start, width, n)
      assertSame(spark.read.parquet(s"$dir/gold"), oracle)
    }
  }

  test("a conversation heavy in one slice returns to the light path with correct frames") {
    // per-slice dispatch: heavy_x brings > thr rows in slice 1 only
    // (700 > 500); at slice 2 just 400 of them remain inside the 7d
    // lookback (< 500), so it returns to the light path — whose frames
    // must still see those 400 committed events (the context rescan
    // reads routed conversations' committed gold like any other)
    val dense = (0 until 700).map { i =>
      val sec =
        if (i < 300) start + 3600L + i * 60L // first 6h: out of slice-2 lookback
        else start + 86400L + (i - 300) * 60L // day 2: inside slice-2 lookback
      ("heavy_x", i, if (i % 3 == 0) "user" else "assistant", s"turn number $i words",
        if (i % 7 == 0) Some(s"tool_${i % 4}") else None, sec)
    }
    val lightTail = (700 until 710).map(i =>
      ("heavy_x", i, "assistant", s"late turn $i", None, start + sliceSecs + 3600L + (i - 700) * 30L))
    val bronze = TranscriptGen.transcripts(spark, nConvs = 12, avgTurns = 10)
      .unionByName(rows(dense ++ lightTail)).cache()
    val dir = Files.createTempDirectory("bf_exheavy").toString
    Backfill.run(spark, bronze, dir, start, sliceSecs, nSlices,
      skewHeavyThreshold = Some(500L), segmentSecs = 2L * 86400)
    assertSame(spark.read.parquet(s"$dir/gold"), FeatureWindows.gold(SilverBuilder.build(bronze)))
  }
}
