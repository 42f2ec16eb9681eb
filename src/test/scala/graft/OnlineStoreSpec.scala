package graft

import java.nio.file.Files

import org.apache.spark.TestListenerBus
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.TranscriptGen
import graft.gold.AsOfJoin
import graft.meta.Checkpoint

/** The online store: `latestForKeys` over a committed gold table is
  * answered from the per-conversation state table with no Spark job,
  * and equals `latestPerKey(gold)` restricted to the keys after every
  * step that changes the table — each slice commit, a crash after a
  * gold write and its resume, the state compactions, and a late-data
  * reprocess.
  */
class OnlineStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val start = 1704067200L
  private val width = 4L * 86400
  private val nSlices = 9
  private val day = 86400L

  private def turns(rows: (String, Int, Long)*): DataFrame = {
    import spark.implicits._
    rows.toDF("conv_id", "turn_idx", "sec").select(
      col("conv_id"), col("turn_idx"),
      when(col("turn_idx") % 2 === 0, "user").otherwise("assistant").as("role"),
      concat(lit("text of "), col("conv_id"), lit(" "), col("turn_idx")).as("text"),
      lit(null).cast("string").as("tool"), timestamp_seconds(col("sec")).as("ts"))
  }

  // equal-ts ties (the higher turn_idx wins; one tie closes a slice, one
  // is overtaken in a later slice), and a ts-inverted conversation the
  // sweep reroutes (newest by ts is turn 0, highest turn is turn 2)
  private lazy val crafted = turns(
    ("tie_conv", 0, start + 1 * day), ("tie_conv", 1, start + 1 * day + 60),
    ("tie_conv", 2, start + 1 * day + 60),
    ("tie_conv2", 0, start + 5 * day), ("tie_conv2", 1, start + 5 * day),
    ("tie_conv2", 2, start + 10 * day),
    ("inv_conv", 0, start + 9 * day + 300), ("inv_conv", 1, start + 9 * day + 100),
    ("inv_conv", 2, start + 9 * day + 200))

  private lazy val full: DataFrame = TranscriptGen.transcripts(spark, nConvs = 16, avgTurns = 14,
    megaConvs = 1, megaTurns = 2000, injectAnomalies = true)
    .unionByName(crafted).cache()

  test("latestForKeys == latestPerKey(gold) after every commit, crash, compaction and late reprocess") {
    import spark.implicits._
    val sc = spark.sparkContext
    // the generator plants its mega first; 2000 turns cross the
    // 300-row threshold in every 4-day slice they touch
    val mega = "conv_000000000"
    // one real turn of slice 3 arrives late
    val late = full.filter(col("conv_id").startsWith("conv_") && col("conv_id") =!= mega &&
      col("ts") >= timestamp_seconds(lit(start + 2 * width)) &&
      col("ts") < timestamp_seconds(lit(start + 3 * width)) && col("turn_idx") >= 2)
      .orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx").head()
    val isLate = col("conv_id") === late.getString(0) && col("turn_idx") === late.getInt(1)
    val base = full.filter(!isLate || col("conv_id").isNull).cache()

    val sample = full.filter(col("conv_id").startsWith("conv_") && col("conv_id") =!= mega)
      .select("conv_id").distinct().orderBy("conv_id").as[String].collect().toSeq
    val present = (sample.take(6) ++ Seq(mega, "tie_conv", "tie_conv2", "inv_conv",
      late.getString(0))).distinct
    // a repeated key, a null key and a key with no history
    val keys = (present :+ present.head :+ null :+ "conv_without_history").toDF("conv_id")

    def history(dir: String) = spark.read.parquet(s"$dir/gold").drop("slice_id")
    def byConv(rows: Seq[Row]) = rows.sortBy(_.getAs[String]("conv_id"))
    def check(dir: String, label: String, stateTable: Boolean): Unit = {
      val h = history(dir)
      val (got, jobs) = TestListenerBus.jobsDuring(sc)(AsOfJoin.latestForKeys(h, keys).collect())
      if (stateTable) assert(jobs == 0, s"$label: $jobs job(s) — the state-table path was not taken")
      else assert(jobs > 0, s"$label: expected the gold-scan fallback")
      val want = AsOfJoin.latestPerKey(h).filter(col("conv_id").isin(present: _*)).collect()
      assert(byConv(got.toSeq) == byConv(want.toSeq), s"$label:\ngot ${byConv(got.toSeq).mkString("\n")}" +
        s"\nwant ${byConv(want.toSeq).mkString("\n")}")
    }
    def runTo(dir: String, n: Int, bronze: DataFrame, failAt: Option[String] = None) =
      Backfill.run(spark, bronze, dir, start, width, n,
        skewHeavyThreshold = Some(300L), segmentSecs = 2L * day, failAfterGoldWriteOfSlice = failAt)

    val dir = Files.createTempDirectory("online_store").toString
    val crashAt = 4
    for (i <- 1 to nSlices) {
      if (i == crashAt) {
        intercept[RuntimeException](runTo(dir, i, base,
          Some(Backfill.sliceId(start + (i - 1) * width))))
        check(dir, s"after the crash in slice $i", stateTable = false)
      }
      runTo(dir, i, base)
      check(dir, s"after commit $i", stateTable = true)
    }
    // coverage: compaction wrote a snapshot, and the ts-inverted
    // reroute wrote state rows of its own; the mega, above the
    // threshold, rides the sweep's side-files like every conversation
    assert(Checkpoint.numberedDirs(spark, s"$dir/_meta/conv_state_snapshot", "upto=").nonEmpty)
    val routed = Checkpoint.readDeltaTable(spark, dir)
      .filter(input_file_name().contains("-c000")).select("conv_id").distinct()
      .as[String].collect().toSet
    assert(!routed(mega) && routed("inv_conv"), s"routed state rows: $routed")

    assert(Backfill.collectLate(spark, full, dir, start, width) > 0L)
    Backfill.reprocessLate(spark, full, dir, start, width, nSlices,
      skewHeavyThreshold = Some(300L), segmentSecs = 2L * day)
    assert(history(dir).filter(isLate).count() == 1L)
    check(dir, "after the late reprocess", stateTable = true)
  }
}
