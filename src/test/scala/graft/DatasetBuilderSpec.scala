package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.datasets.DatasetBuilder
import graft.gen.TranscriptGen
import graft.gold.FeatureWindows
import graft.guard.LeakageGuard
import graft.silver.SilverBuilder

class DatasetBuilderSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private lazy val gold = FeatureWindows.gold(
    SilverBuilder.build(TranscriptGen.transcripts(spark, nConvs = 40, avgTurns = 15))).cache()

  test("split is deterministic, disjoint, exhaustive, and conversation-grouped") {
    val (train, valid) = DatasetBuilder.trainValidation(gold)
    assert(train.count() + valid.count() == gold.count())
    // no conversation straddles the split
    val overlap = train.select("conv_id").distinct()
      .join(valid.select("conv_id").distinct(), "conv_id")
    assert(overlap.count() == 0)
    // deterministic under repartition
    val (train2, _) = DatasetBuilder.trainValidation(gold.repartition(11))
    assert(train.exceptAll(train2).count() == 0 && train2.exceptAll(train).count() == 0)
  }

  test("labels exist and the future-reading label is quarantined") {
    val labeled = DatasetBuilder.withLabels(gold)
    assert(labeled.columns.contains("label_next_is_tool"))
    // guard passes with the exemption, fails without it
    LeakageGuard.validate(labeled, DatasetBuilder.labelCols)
    assertThrows[IllegalStateException](LeakageGuard.validate(labeled))
  }

  test("label_next_is_tool is 1 exactly when the next turn has a tool") {
    import spark.implicits._
    val labeled = DatasetBuilder.withLabels(gold)
    val bad = labeled.as("a").join(gold.as("b"),
      col("a.conv_id") === col("b.conv_id") && col("b.turn_idx") === col("a.turn_idx") + 1)
      .filter(col("a.label_next_is_tool") =!= col("b.tool").isNotNull.cast("int"))
    assert(bad.count() == 0)
  }

  test("inference keeps the latest 2 days and drops labels + dt") {
    val inf = DatasetBuilder.inference(gold, days = 2)
    assert(!inf.columns.exists(c => c.startsWith("label_") || c == "dt"))
    val maxDt = gold.agg(max("dt")).collect()(0).getDate(0)
    val kept = gold.filter(col("dt") > date_sub(lit(maxDt), 2)).count()
    assert(inf.count() == kept && kept > 0)
  }

  test("writeAll materializes train/validation/inference + single-file JSON metadata (S4/S5)") {
    val dir = java.nio.file.Files.createTempDirectory("datasets").toString
    DatasetBuilder.writeAll(gold, dir, runId = "run-0001")
    val train = spark.read.parquet(s"$dir/train")
    val valid = spark.read.parquet(s"$dir/validation")
    val inf = spark.read.parquet(s"$dir/inference")
    assert(train.count() + valid.count() == gold.count())
    assert(!inf.columns.contains("dt"))
    val metaFiles = new java.io.File(s"$dir/metadata").listFiles().filter(_.getName.endsWith(".json"))
    assert(metaFiles.length == 1, "metadata must be a single JSON file")
    val meta = spark.read.json(s"$dir/metadata").head()
    assert(meta.getAs[String]("run_id") == "run-0001")
    assert(meta.getAs[Long]("train_rows") == train.count())
    assert(meta.getAs[Long]("validation_rows") == valid.count())
    assert(meta.getAs[Long]("inference_rows") == inf.count())
  }
}
