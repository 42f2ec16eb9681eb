package graft.datasets

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Backfill
import graft.guard.LeakageGuard

/** Train / validation / inference dataset builds over the gold table.
  * Replaces spark_jobs/build_datasets.py with two corrections:
  *
  *  - deterministic split (defect R1): the reference's
  *    `randomSplit([0.8, 0.2], seed=42)` (build_datasets.py:63) is a
  *    per-row Bernoulli sample whose outcome depends on partition
  *    layout; ours hashes the key, so the split is stable under any
  *    cluster layout AND grouped by conversation — all turns of a
  *    conversation land on the same side, preventing within-conversation
  *    train/val leakage that a row-level split would create.
  *  - label quarantine: label derivation is the only place allowed to
  *    read the future (lead); every build is re-checked by the static
  *    leakage guard with ONLY the label columns exempted.
  */
object DatasetBuilder {

  /** Label columns (prefix-quarantined). `label_long_turn` mirrors the
    * reference's threshold label (`amount > 1000`,
    * build_datasets.py:57-60); `label_next_is_tool` is a
    * genuinely-future label (will the next turn call a tool?).
    */
  def withLabels(gold: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    gold
      .withColumn("label_long_turn", (length(col("text")) > 40).cast("int"))
      .withColumn("label_next_is_tool",
        lead(col("tool"), 1).over(w).isNotNull.cast("int"))
  }

  val labelCols: Set[String] = Set("label_long_turn", "label_next_is_tool")

  /** Conversation-grouped deterministic hash split. trainPct in
    * [0, 100].
    */
  def split(labeled: DataFrame, trainPct: Int = 80): (DataFrame, DataFrame) = {
    val bucket = pmod(xxhash64(col("conv_id")), lit(100L))
    (labeled.filter(bucket < trainPct), labeled.filter(bucket >= trainPct))
  }

  /** Training + validation datasets with leakage check. */
  def trainValidation(gold: DataFrame, trainPct: Int = 80): (DataFrame, DataFrame) = {
    val labeled = withLabels(gold)
    LeakageGuard.validate(labeled, labelCols)
    split(labeled, trainPct)
  }

  /** Inference dataset: latest `days` daily partitions, labels and
    * partition column dropped (build_datasets.py:88-113 semantics —
    * `dt isin [today, yesterday]` then exclusion projection — with the
    * days anchored to the table's own max dt, not wall clock: defect
    * D7).
    */
  def inference(gold: DataFrame, days: Int = 2): DataFrame = {
    val maxDt = gold.agg(max(col("dt"))).collect()(0).getDate(0)
    gold
      .filter(col("dt") > date_sub(lit(maxDt), days))
      .drop((labelCols + "dt").toSeq: _*)
  }

  /** Materialize train/validation/inference + a single-file JSON run
    * metadata sink (replaces build_datasets.py:57-73, 101-113 writes
    * and the RDD `saveAsTextFile` metadata sink :126-139 — a plain
    * DataFrame JSON write, no RDD). `runId` is a caller-supplied
    * deterministic id (defect D7: no wall clock). Each dataset's row
    * count is observed on its own write (no re-read); only if the
    * observed metrics do not arrive is the written dataset counted.
    */
  def writeAll(gold: DataFrame, outDir: String, runId: String, trainPct: Int = 80): Unit = {
    val spark = gold.sparkSession
    def write(name: String, df: DataFrame): Long = {
      val path = s"$outDir/$name"
      Backfill.writeObserved(spark, s"datasets_${name}_${System.nanoTime()}", df,
          Seq(count(lit(1)).as("n")))(_.write.mode("overwrite").parquet(path))
        .map(_.getLong(0))
        .getOrElse(spark.read.parquet(path).count())
    }
    val (train, valid) = trainValidation(gold, trainPct)
    val trainRows = write("train", train)
    val validRows = write("validation", valid)
    val inferenceRows = write("inference", inference(gold))
    import spark.implicits._
    val meta = Seq((runId, trainRows, validRows, inferenceRows, trainPct))
      .toDF("run_id", "train_rows", "validation_rows", "inference_rows", "train_pct")
    meta.coalesce(1).write.mode("overwrite").json(s"$outDir/metadata")
  }
}
