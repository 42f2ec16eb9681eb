package graft

import org.scalatest.funsuite.AnyFunSuite

class BackfillCliSpec extends AnyFunSuite {

  test("parses the full documented argument set") {
    val a = BackfillCli.parse(Seq(
      "--bronze", "/data/bronze", "--out", "/data/medallion",
      "--start", "2024-01-01T00:00:00Z", "--slice-secs", "86400", "--slices", "30",
      "--format", "json", "--session-gap-secs", "900",
      "--segment-secs", "43200",
      "--late-policy", "collect", "--materialize-silver"))
    assert(a.bronze == "/data/bronze" && a.out == "/data/medallion")
    assert(a.startSec == 1704067200L && a.sliceSecs == 86400L && a.nSlices == 30)
    assert(a.format == "json" && a.sessionGapSecs == 900L)
    assert(a.segmentSecs == 43200L)
    assert(a.latePolicy == "collect" && a.materializeSilver)
    // the removed layout, periodic-compaction and skew-route flags are
    // unknown now
    Seq(Seq("--range-layout"), Seq("--compact-every", "8"),
        Seq("--skew-threshold", "500000")).foreach { flag =>
      val ex = intercept[IllegalArgumentException](BackfillCli.parse(Seq(
        "--bronze", "b", "--out", "o", "--start", "0", "--slices", "1") ++ flag))
      assert(ex.getMessage == s"unknown or incomplete argument: ${flag.head}")
    }
  }

  test("epoch-seconds start, defaults, and skew-path opt-out") {
    val a = BackfillCli.parse(Seq(
      "--bronze", "b", "--out", "o", "--start", "1704067200",
      "--slices", "4"))
    assert(a.startSec == 1704067200L)
    assert(a.sliceSecs == 86400L && a.format == "parquet")
    assert(a.segmentSecs == 604800L)
  }

  test("missing required args and unknown flags are rejected") {
    assertThrows[IllegalArgumentException](
      BackfillCli.parse(Seq("--bronze", "b", "--out", "o", "--slices", "4")))
    assertThrows[IllegalArgumentException](
      BackfillCli.parse(Seq("--bronze", "b", "--frobnicate")))
  }

  test("start accepts ISO date-only and rejects garbage with a clear error") {
    assert(BackfillCli.parseEpoch("2024-01-01") == 1704067200L)
    assert(BackfillCli.parseEpoch("2024-01-01T00:00:00Z") == 1704067200L)
    assert(BackfillCli.parseEpoch("1704067200") == 1704067200L)
    val ex = intercept[IllegalArgumentException](BackfillCli.parseEpoch("2024-13-99x"))
    assert(ex.getMessage.contains("--start"))
    assertThrows[IllegalArgumentException](
      BackfillCli.parse(Seq("--bronze", "b", "--out", "o", "--start", "0",
        "--slices", "1", "--late-policy", "bogus")))
  }

  test("end-to-end: main() runs a 2-slice backfill, resumes as a no-op, handles late data") {
    val spark = SparkTestBase.spark
    val work = java.nio.file.Files.createTempDirectory("cli_e2e").toString
    val bronze = graft.gen.TranscriptGen.transcripts(spark, nConvs = 8, avgTurns = 10)
    bronze.write.mode("overwrite").parquet(s"$work/bronze")
    val args = Array("--bronze", s"$work/bronze", "--out", s"$work/out",
      "--start", "2024-01-01", "--slice-secs", s"${20L * 86400}", "--slices", "2")
    BackfillCli.main(args)
    val wm = graft.meta.Checkpoint.readWatermarks(spark, s"$work/out")
    assert(wm.filter(org.apache.spark.sql.functions.col("status") === "committed").count() == 2)
    assert(spark.read.parquet(s"$work/out/gold").count() == bronze.count())
    // resume: all slices skipped, output unchanged
    BackfillCli.main(args)
    assert(spark.read.parquet(s"$work/out/gold").count() == bronze.count())
    // a late row + reprocess via the CLI flag
    import spark.implicits._
    bronze.unionByName(Seq(("conv_late", 0, "user", "late", null.asInstanceOf[String], 1704067300L))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "sec")
      .select(org.apache.spark.sql.functions.col("conv_id"),
        org.apache.spark.sql.functions.col("turn_idx"),
        org.apache.spark.sql.functions.col("role"),
        org.apache.spark.sql.functions.col("text"),
        org.apache.spark.sql.functions.col("tool"),
        org.apache.spark.sql.functions.timestamp_seconds(
          org.apache.spark.sql.functions.col("sec")).as("ts")))
      .write.mode("overwrite").parquet(s"$work/bronze2")
    BackfillCli.main(Array("--bronze", s"$work/bronze2", "--out", s"$work/out",
      "--start", "2024-01-01", "--slice-secs", s"${20L * 86400}", "--slices", "2",
      "--late-policy", "reprocess"))
    assert(spark.read.parquet(s"$work/out/gold").count() == bronze.count() + 1)
  }
}
