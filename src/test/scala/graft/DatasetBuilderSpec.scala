package graft

import java.nio.file.Files

import org.apache.spark.TestListenerBus
import org.apache.spark.sql.DataFrame
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

  // a committed 3-slice backfill (8-day slices over the generator's
  // 30-day span) plus one conversation whose turns cross the slice 0/1
  // boundary, the first turn past it calling a tool
  private val start = 1704067200L
  private val sliceSecs = 8L * 86400
  private lazy val committedDir: String = {
    import spark.implicits._
    val crossing = Seq(
      (0, None, -120L), (1, None, -60L), (2, Some("search"), 60L), (3, None, 120L))
      .map { case (turn, tool, off) => ("cross_conv", turn, tool, start + sliceSecs + off) }
      .toDF("conv_id", "turn_idx", "tool", "sec")
      .select(col("conv_id"), col("turn_idx"),
        when(col("turn_idx") % 2 === 0, "user").otherwise("assistant").as("role"),
        concat(lit("turn "), col("turn_idx")).as("text"), col("tool"),
        timestamp_seconds(col("sec")).as("ts"))
    val dir = Files.createTempDirectory("datasets_committed").toString
    Backfill.run(spark, TranscriptGen.transcripts(spark, nConvs = 30, avgTurns = 20)
      .unionByName(crossing), dir, start, sliceSecs, 3)
    dir
  }
  private def committedGold: DataFrame = spark.read.parquet(s"$committedDir/gold").drop("slice_id")

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit =
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)

  private def fieldsOf(df: DataFrame) = df.schema.fields.map(f => (f.name, f.dataType)).toSeq

  private def listing(dir: String): Set[String] =
    Option(new java.io.File(dir).list()).map(_.toSet).getOrElse(Set.empty)

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

  test("writeAll over a committed multi-slice gold == trainValidation + inference, " +
      "labels read across slice boundaries") {
    val g = committedGold
    val dir = Files.createTempDirectory("datasets_multi").toString
    DatasetBuilder.writeAll(g, dir, runId = "run-multi")
    val (train, valid) = DatasetBuilder.trainValidation(g)
    val (wTrain, wValid, wInf) =
      (spark.read.parquet(s"$dir/train"), spark.read.parquet(s"$dir/validation"),
        spark.read.parquet(s"$dir/inference"))
    assertSameRows(wTrain, train)
    assertSameRows(wValid, valid)
    assertSameRows(wInf, DatasetBuilder.inference(g))
    assert(!wTrain.isEmpty && !wValid.isEmpty && !wInf.isEmpty)
    // the dirs hold the columns the per-split writes held, no _split
    assert(fieldsOf(wTrain) == fieldsOf(train) && fieldsOf(wValid) == fieldsOf(valid))
    assert(fieldsOf(wInf) == fieldsOf(DatasetBuilder.inference(g)))
    assert(listing(dir) == Set("train", "validation", "inference", "metadata"))
    // a conversation's last turn of slice 0 takes its label from its
    // first turn of slice 1
    val bySlice = spark.read.parquet(s"$committedDir/gold")
    val s0 = Backfill.sliceId(start)
    val s1 = Backfill.sliceId(start + sliceSecs)
    val lastOfS0 = bySlice.filter(col("slice_id") === s0)
      .groupBy("conv_id").agg(max("turn_idx").as("turn_idx"))
    val crossing = lastOfS0.join(bySlice.filter(col("slice_id") === s1)
      .select(col("conv_id"), (col("turn_idx") - 1).as("turn_idx"), col("tool").as("next_tool")),
      Seq("conv_id", "turn_idx"))
    assert(crossing.filter(col("conv_id") === "cross_conv" && col("next_tool").isNotNull).count() == 1)
    val labelled = wTrain.unionByName(wValid)
    val bad = crossing.join(labelled, Seq("conv_id", "turn_idx"))
      .filter(col("label_next_is_tool") =!= col("next_tool").isNotNull.cast("int"))
    assert(bad.isEmpty)
    assert(crossing.join(labelled, Seq("conv_id", "turn_idx")).count() == crossing.count())
    val meta = spark.read.json(s"$dir/metadata").head()
    assert(meta.getAs[Long]("train_rows") == train.count())
    assert(meta.getAs[Long]("validation_rows") == valid.count())
    assert(meta.getAs[Long]("inference_rows") == wInf.count())
    assert(meta.getAs[Long]("train_pct") == 80L)
  }

  test("writeAll at trainPct 0 and 100: the empty side is a readable dir with the schema and 0 rows") {
    val g = committedGold
    val (train, _) = DatasetBuilder.trainValidation(g)
    Seq((0, "train", "validation"), (100, "validation", "train")).foreach { case (pct, empty, full) =>
      val dir = Files.createTempDirectory(s"datasets_pct$pct").toString
      DatasetBuilder.writeAll(g, dir, runId = s"run-$pct", trainPct = pct)
      val (e, f) = (spark.read.parquet(s"$dir/$empty"), spark.read.parquet(s"$dir/$full"))
      assert(e.count() == 0, s"trainPct $pct: $empty")
      assert(fieldsOf(e) == fieldsOf(train) && fieldsOf(f) == fieldsOf(train))
      assertSameRows(f, DatasetBuilder.withLabels(g))
      val meta = spark.read.json(s"$dir/metadata").head()
      assert(meta.getAs[Long](s"${empty}_rows") == 0L && meta.getAs[Long](s"${full}_rows") == g.count())
    }
  }

  test("a second writeAll into the same dir leaves no stale files and no staging dir") {
    val g = committedGold
    val dir = Files.createTempDirectory("datasets_twice").toString
    DatasetBuilder.writeAll(g, dir, runId = "first", trainPct = 80)
    DatasetBuilder.writeAll(g, dir, runId = "second", trainPct = 30)
    assert(listing(dir) == Set("train", "validation", "inference", "metadata"))
    val (train, valid) = DatasetBuilder.trainValidation(g, trainPct = 30)
    assertSameRows(spark.read.parquet(s"$dir/train"), train)
    assertSameRows(spark.read.parquet(s"$dir/validation"), valid)
    assertSameRows(spark.read.parquet(s"$dir/inference"), DatasetBuilder.inference(g))
    assert(listing(s"$dir/metadata").filter(_.endsWith(".json")).size == 1)
    assert(spark.read.json(s"$dir/metadata").head().getAs[String]("run_id") == "second")
  }

  test("writeAll over a committed gold launches at most 3 Spark jobs") {
    val g = committedGold
    val dir = Files.createTempDirectory("datasets_jobs").toString
    val (_, jobs) = TestListenerBus.jobsDuring(spark.sparkContext)(
      DatasetBuilder.writeAll(g, dir, runId = "run-jobs"))
    assert(jobs <= 3, s"$jobs Spark jobs")
  }
}
