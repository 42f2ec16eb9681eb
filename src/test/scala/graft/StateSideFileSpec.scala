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
  * aggregate, appended to the same dir). The comparison covers the
  * `st_*` columns and the `latest` gold row, with an equal-ts tie.
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

  /** The wide state rows of the slice dir starting at `s`. */
  private def wideDelta(dir: String, s: Long): DataFrame = {
    val gold = spark.read.parquet(s"$dir/gold")
    Checkpoint.readDeltaTable(spark, dir, minExclusive = Some(s - 1), maxExclusive = Some(s + 1),
      schema = Checkpoint.wideStateSchema(
        org.apache.spark.sql.types.StructType(gold.schema.filterNot(_.name == "slice_id"))))
  }

  private def checkParity(dir: String, width: Long = sliceSecs, n: Int = nSlices): Unit = {
    val gold = spark.read.parquet(s"$dir/gold")
    val cols = Checkpoint.convStateSchema.fieldNames.toSeq :+ "latest"
    for (i <- 0 until n) {
      val s = start + i * width
      val goldSlice = gold.filter(col("slice_id") === Backfill.sliceId(s))
      if (goldSlice.limit(1).count() > 0) {
        val expected = Checkpoint.stateDeltaFromGold(goldSlice).select(cols.map(col): _*)
        val actual = wideDelta(dir, s).select(cols.map(col): _*)
        assertSameRows(actual, expected, s"slice s$s")
      }
    }
  }

  private def turns(rows: (String, Int, Long)*): DataFrame = {
    import spark.implicits._
    rows.toDF("conv_id", "turn_idx", "sec").select(
      col("conv_id"), col("turn_idx"), lit("user").as("role"),
      concat(lit("text "), col("turn_idx")).as("text"),
      lit(null).cast("string").as("tool"), timestamp_seconds(col("sec")).as("ts"))
  }

  // turns 1 and 2 share a ts: `latest` must hold turn 2 on both paths.
  // In sub_conv they share an epoch second in inverted order (0.7 s,
  // then 0.2 s): the sweep's whole-second monotonicity check accepts
  // it, and `latest` must hold turn 1, the newer row.
  private def tie = turns(("tie_conv", 0, start + 86400), ("tie_conv", 1, start + 86460),
    ("tie_conv", 2, start + 86460), ("sub_conv", 0, start + 86400),
    ("sub_conv", 1, start + 86460), ("sub_conv", 2, start + 86460))
    .withColumn("ts", when(col("conv_id") === "sub_conv" && col("turn_idx") === 1,
      col("ts") + expr("INTERVAL 700 MILLISECONDS"))
      .when(col("conv_id") === "sub_conv" && col("turn_idx") === 2,
        col("ts") + expr("INTERVAL 200 MILLISECONDS"))
      .otherwise(col("ts")))

  test("side-files == legacy aggregate, rescan strategy") {
    val bronze = TranscriptGen.transcripts(spark, nConvs = 25, avgTurns = 18,
      injectAnomalies = true).unionByName(tie).cache()
    val dir = Files.createTempDirectory("ssf_rescan").toString
    Backfill.run(spark, bronze, dir, start, sliceSecs, nSlices)
    checkParity(dir)
    val latest = wideDelta(dir, start).filter(col("conv_id").isin("tie_conv", "sub_conv"))
      .select("conv_id", "st_last_turn_idx", "latest.turn_idx").collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(latest == Map("tie_conv" -> (2, 2), "sub_conv" -> (2, 1)), latest)
  }

  test("side-files == legacy aggregate, 2-day slices under the 7-day lookback") {
    val bronze = TranscriptGen.transcripts(spark, nConvs = 25, avgTurns = 18,
      injectAnomalies = true).unionByName(tie).cache()
    val dir = Files.createTempDirectory("ssf_narrow").toString
    Backfill.run(spark, bronze, dir, start, 2L * 86400, nSlices)
    checkParity(dir, width = 2L * 86400)
  }

  test("side-files == legacy aggregate with a skew-routed mega (mixed sweep + aggregate rows)") {
    val bronze = TranscriptGen.transcripts(spark, nConvs = 20, avgTurns = 15,
      megaConvs = 2, megaTurns = 2000, injectAnomalies = true).unionByName(tie).cache()
    val dir = Files.createTempDirectory("ssf_skew").toString
    Backfill.run(spark, bronze, dir, start, sliceSecs, nSlices,
      skewHeavyThreshold = Some(300L), segmentSecs = 2L * 86400)
    checkParity(dir)
  }

  test("a routed ts-inverted conversation keeps both orders on one state row") {
    // turn 0 is the newest by ts, turn 2 the highest ordinal: the sweep
    // rejects the conversation and the routed aggregate writes its row
    val inv = turns(("inv_conv", 0, start + 86700), ("inv_conv", 1, start + 86500),
      ("inv_conv", 2, start + 86600))
    val bronze = TranscriptGen.transcripts(spark, nConvs = 10, avgTurns = 12)
      .unionByName(inv).cache()
    val dir = Files.createTempDirectory("ssf_inverted").toString
    Backfill.run(spark, bronze, dir, start, sliceSecs, 2)
    checkParity(dir, n = 2)
    val row = wideDelta(dir, start).filter(col("conv_id") === "inv_conv")
      .select("st_last_turn_idx", "latest.turn_idx", "latest.ts").head()
    assert(row.getInt(0) == 2, "st_* holds the highest turn_idx")
    assert(row.getInt(1) == 0 && row.getTimestamp(2).getTime / 1000L == start + 86700,
      "latest holds the newest row by ts")
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
