package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.TranscriptGen
import graft.meta.Checkpoint

/** Per-task state side-files (round-5): the sweep tasks emit the
  * slice-meta rows the legacy post-write aggregate used to compute —
  * this spec asserts the two are EQUAL row-for-row, per slice, for
  * slices wider and narrower than the 7-day lookback, including a
  * skew-routed conversation (whose meta still comes from the
  * aggregate, appended to the same dir).
  */
class StateSideFileSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val start = 1704067200L
  private val sliceSecs = 8L * 86400
  private val nSlices = 5

  private def assertSameRows(a: DataFrame, b: DataFrame, hint: String): Unit = {
    assert(a.count() == b.count(), s"$hint: counts ${a.count()} vs ${b.count()}")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      s"$hint:\nactual-only:\n${a.exceptAll(b).limit(5).collect().mkString("\n")}" +
        s"\nexpected-only:\n${b.exceptAll(a).limit(5).collect().mkString("\n")}")
  }

  private def checkParity(dir: String, width: Long = sliceSecs, n: Int = nSlices): Unit = {
    val gold = spark.read.parquet(s"$dir/gold")
    val cols = Checkpoint.convStateSchema.fieldNames.toSeq
    for (i <- 0 until n) {
      val s = start + i * width
      val goldSlice = gold.filter(col("slice_id") === Backfill.sliceId(s))
      if (goldSlice.limit(1).count() > 0) {
        val expected = Checkpoint.stateDeltaFromGold(goldSlice).select(cols.map(col): _*)
        val actual = Checkpoint.readDeltaTable(spark, dir,
          minExclusive = Some(s - 1), maxExclusive = Some(s + 1))
          .select(cols.map(col): _*)
        assertSameRows(actual, expected, s"slice s$s")
      }
    }
  }

  test("side-files == legacy aggregate, rescan strategy") {
    val bronze = TranscriptGen.transcripts(spark, nConvs = 25, avgTurns = 18,
      injectAnomalies = true).cache()
    val dir = Files.createTempDirectory("ssf_rescan").toString
    Backfill.run(spark, bronze, dir, start, sliceSecs, nSlices)
    checkParity(dir)
  }

  test("side-files == legacy aggregate, 2-day slices under the 7-day lookback") {
    val bronze = TranscriptGen.transcripts(spark, nConvs = 25, avgTurns = 18,
      injectAnomalies = true).cache()
    val dir = Files.createTempDirectory("ssf_narrow").toString
    Backfill.run(spark, bronze, dir, start, 2L * 86400, nSlices)
    checkParity(dir, width = 2L * 86400)
  }

  test("side-files == legacy aggregate with a skew-routed mega (mixed sweep + aggregate rows)") {
    val bronze = TranscriptGen.transcripts(spark, nConvs = 20, avgTurns = 15,
      megaConvs = 2, megaTurns = 2000, injectAnomalies = true).cache()
    val dir = Files.createTempDirectory("ssf_skew").toString
    Backfill.run(spark, bronze, dir, start, sliceSecs, nSlices,
      skewHeavyThreshold = Some(300L), segmentSecs = 2L * 86400)
    checkParity(dir)
  }

  test("a 70k-turn conversation writes one side-file state row per slice") {
    // light path (no threshold); the side-file holds the
    // conversation's last accepted row however many turns it has
    val n = 70000
    val conv = spark.range(n).select(
      lit("big_conv").as("conv_id"),
      col("id").cast("int").as("turn_idx"),
      when(pmod(col("id"), lit(2)) === 0, "user").otherwise("assistant").as("role"),
      concat(lit("turn text "), col("id")).as("text"),
      when(pmod(col("id"), lit(13)) === 0, concat(lit("tool_"), pmod(col("id"), lit(5)))).as("tool"),
      timestamp_seconds(lit(start + 1000) + col("id") * 3).as("ts"))
    val dir = Files.createTempDirectory("ssf_big").toString
    Backfill.run(spark, conv, dir, start, sliceSecs, 2)
    checkParity(dir, n = 2)
    val big = Checkpoint.readDeltaTable(spark, dir).filter(col("conv_id") === "big_conv")
    assert(big.count() == 1L, s"expected one state row, got ${big.count()}")
    assert(big.select("st_last_turn_idx").head().getInt(0) == n - 1)
  }
}
