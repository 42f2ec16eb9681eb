package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.TranscriptGen
import graft.gold.FeatureWindows
import graft.silver.SilverBuilder

/** Physical-plan guarantees the optimizer must deliver (SURVEY.md §4.1):
  * dt partition pruning (F4/F5), parquet filter pushdown, and column
  * pruning down to the scan.
  */
class PruningSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private lazy val goldDir = {
    val dir = Files.createTempDirectory("prune_gold").toString
    FeatureWindows.gold(SilverBuilder.build(
      TranscriptGen.transcripts(spark, nConvs = 20, avgTurns = 15)))
      .write.mode("overwrite").partitionBy("dt").parquet(dir)
    dir
  }

  test("dt BETWEEN prunes partitions at the scan (F4)") {
    val df = spark.read.parquet(goldDir)
      .filter(col("dt").between("2024-01-05", "2024-01-08"))
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      (scan.contains("isnotnull(dt") || scan.contains("(dt")),
      s"expected PartitionFilters on dt:\n$scan")
    // the pruned scan must read fewer partition dirs than exist
    val allDts = spark.read.parquet(goldDir).select("dt").distinct().count()
    assert(df.select("dt").distinct().count() < allDts)
  }

  test("row-level predicates push to the parquet scan (PushedFilters)") {
    val df = spark.read.parquet(goldDir)
      .filter(col("session_id") > 2 && col("role") === "tool")
      .select("conv_id", "turn_idx")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("session_id"),
      s"expected pushed filters:\n$scan")
  }

  test("backfill lookback context read prunes slice partitions and pushes ts filters") {
    // silver laid out like the backfill writes it: one flat dir per slice
    val dir = Files.createTempDirectory("prune_ctx").toString
    val silver = SilverBuilder.build(TranscriptGen.transcripts(spark, nConvs = 20, avgTurns = 15))
    // two committed slices: one inside the 7d lookback of the probe
    // start, one far before it (must be pruned at the directory level)
    silver.write.parquet(s"$dir/silver/slice_id=s1704240000")
    silver.write.parquet(s"$dir/silver/slice_id=s1640995200")
    val start = 1704931200L
    val ctx = Backfill.contextRead(spark, s"$dir/silver", "s1704931200", start, 691200L)
    // the relation is built over the overlapping slice dirs only: the
    // file listing never touches the far-away slice
    val roots = ctx.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.rootPaths.map(_.getName)
    }.flatten
    assert(roots == Seq("slice_id=s1704240000"), s"relation roots: $roots")
    val scan = ctx.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("slice_id"),
      s"expected slice_id PartitionFilters in the context read:\n$scan")
    val pushed = scan.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("ts"), s"expected ts in PushedFilters:\n$scan")
    // directory-level pruning: the far-away slice contributes no files
    val files = ctx.select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(files.forall(_.contains("slice_id=s1704240000")),
      s"stale slice dir not pruned: ${files.mkString(", ")}")
    // and the semantics: exactly the [start-7d, start) half-open window
    val bounds = ctx.agg(min(unix_timestamp(col("ts"))), max(unix_timestamp(col("ts")))).head()
    if (!bounds.isNullAt(0)) {
      assert(bounds.getLong(0) >= start - 604800L)
      assert(bounds.getLong(1) < start)
    }
  }

  test("the sweep's state scan never reads the wide latest column") {
    val dir = Files.createTempDirectory("prune_state").toString
    Backfill.run(spark, TranscriptGen.transcripts(spark, nConvs = 10, avgTurns = 10),
      dir, 1704067200L, 8L * 86400, 2)
    // the state files carry `latest` (one driver-side footer read) ...
    assert(graft.meta.Checkpoint.firstFileColumns(spark, s"$dir/_meta/conv_state")
      .exists(_.contains("latest")))
    // ... and the sweep's state input does not request it
    val stateIn = graft.gold.FusedSweep.stateRows(
      graft.meta.Checkpoint.readConvStateDeltas(spark, dir, Long.MaxValue))
    val readSchemas = stateIn.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("ReadSchema")).toSeq
    assert(readSchemas.nonEmpty && readSchemas.forall(!_.contains("latest")),
      s"state scan reads `latest`:\n${readSchemas.mkString("\n")}")
  }

  test("column pruning reaches the scan (ReadSchema only has needed columns)") {
    val df = spark.read.parquet(goldDir).select("conv_id", "turns_cnt_1h")
    val scan = df.queryExecution.executedPlan.toString
    val readSchema = scan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("conv_id") && readSchema.contains("turns_cnt_1h"))
    assert(!readSchema.contains("text"), s"text should be pruned:\n$readSchema")
  }
}
