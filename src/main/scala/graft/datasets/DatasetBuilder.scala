package graft.datasets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Backfill
import graft.guard.LeakageGuard
import graft.meta.Checkpoint

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

  val labelCols: Set[String] = Set("label_long_turn", "label_next_is_tool")

  /** The split rule: the conversation's hash bucket in [0, 100) falls
    * below `trainPct` (never null: xxhash64 of a null key is the seed).
    */
  private def isTrain(trainPct: Int): Column = pmod(xxhash64(col("conv_id")), lit(100L)) < trainPct

  /** The one label definition, its window partitioned by `keys` plus
    * conv_id (`keys` must be functions of conv_id, so the windows are
    * the per-conversation ones). `label_long_turn` mirrors the
    * reference's threshold label (`amount > 1000`,
    * build_datasets.py:57-60); `label_next_is_tool` is a
    * genuinely-future label (will the next turn call a tool?).
    */
  private def labelled(gold: DataFrame, keys: Column*): DataFrame = {
    val w = Window.partitionBy(keys :+ col("conv_id"): _*).orderBy(col("turn_idx"))
    gold
      .withColumn("label_long_turn", (length(col("text")) > 40).cast("int"))
      .withColumn("label_next_is_tool",
        lead(col("tool"), 1).over(w).isNotNull.cast("int"))
  }

  /** Label columns (prefix-quarantined); see [[labelled]]. */
  def withLabels(gold: DataFrame): DataFrame = labelled(gold)

  /** Conversation-grouped deterministic hash split. trainPct in
    * [0, 100].
    */
  def split(labeled: DataFrame, trainPct: Int = 80): (DataFrame, DataFrame) =
    (labeled.filter(isTrain(trainPct)), labeled.filter(!isTrain(trainPct)))

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
  def inference(gold: DataFrame, days: Int = 2): DataFrame = inferenceAt(gold, maxDt(gold), days)

  private def maxDt(gold: DataFrame): java.sql.Date = gold.agg(max(col("dt"))).collect()(0).getDate(0)

  private def inferenceAt(gold: DataFrame, maxDt: java.sql.Date, days: Int): DataFrame =
    gold
      .filter(col("dt") > date_sub(lit(maxDt), days))
      .drop((labelCols + "dt").toSeq: _*)

  /** Materialize train/validation/inference + a single-file JSON run
    * metadata sink (replaces build_datasets.py:57-73, 101-113 writes
    * and the RDD `saveAsTextFile` metadata sink :126-139). `runId` is a
    * caller-supplied deterministic id (defect D7: no wall clock).
    *
    * One pass over gold for both labelled splits: a `_split` column
    * (a function of conv_id) joins the label window's partition key, so
    * the frame takes ONE exchange on (_split, conv_id) and ONE sort on
    * (_split, conv_id, turn_idx) — which is already the ordering the
    * partitioned writer needs. It is written once with
    * `partitionBy("_split")` into the hidden staging dir `_splits`
    * (Spark readers skip `_`-prefixed paths), and the two partition
    * dirs are then renamed to `train/` and `validation/` (no `_split`
    * column in the files); a side with no rows gets an empty dir with
    * the same schema. That write observes both row counts and the max
    * dt, the inference anchor, so `inference/` is a plain filtered scan
    * and its count is observed too. Only if the observed metrics do not
    * arrive are the written dirs counted and the anchor aggregated.
    * `metadata/` is one JSON line written on the driver. Three Spark
    * jobs in all under adaptive execution: the splits' shuffle map
    * stage (its own job there) and write, and the inference write.
    */
  def writeAll(gold: DataFrame, outDir: String, runId: String, trainPct: Int = 80): Unit = {
    val spark = gold.sparkSession
    val fs = new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def countDir(path: String): Long = spark.read.parquet(path).count()

    val staging = s"$outDir/_splits"
    val splits = labelled(
      gold.withColumn("_split", when(isTrain(trainPct), "train").otherwise("validation")),
      col("_split"))
    LeakageGuard.validate(splits, labelCols)
    def rows(side: String) = count(when(col("_split") === side, true))
    val observed = Backfill.writeObserved(spark, s"datasets_splits_${System.nanoTime()}", splits,
        Seq(rows("train"), rows("validation"), max(col("dt"))))(
      _.write.mode("overwrite").partitionBy("_split").parquet(staging))
    val sides = Seq("train", "validation").map { side =>
      val path = s"$outDir/$side"
      fs.delete(new Path(path), true)
      val part = new Path(s"$staging/_split=$side")
      if (fs.exists(part)) {
        if (!fs.rename(part, new Path(path)))
          throw new java.io.IOException(s"could not rename $part to $path")
        Checkpoint.writeDriverFile(spark, s"$path/_SUCCESS", "")
      } else {
        splits.limit(0).drop("_split").write.parquet(path)
      }
      path
    }
    fs.delete(new Path(staging), true)
    val Seq(trainRows, validRows) = sides.zipWithIndex.map { case (path, i) =>
      observed.map(_.getLong(i)).getOrElse(countDir(path))
    }
    val anchor = observed.map(_.getDate(2)).getOrElse(maxDt(gold))

    val infPath = s"$outDir/inference"
    val inferenceRows = Backfill.writeObserved(spark, s"datasets_inference_${System.nanoTime()}",
        inferenceAt(gold, anchor, 2), Seq(count(lit(1))))(_.write.mode("overwrite").parquet(infPath))
      .map(_.getLong(0))
      .getOrElse(countDir(infPath))

    val metaDir = s"$outDir/metadata"
    fs.delete(new Path(metaDir), true)
    Checkpoint.writeDriverFile(spark, s"$metaDir/part-00000.json", Checkpoint.jsonLine(Seq(
      "run_id" -> runId, "train_rows" -> trainRows, "validation_rows" -> validRows,
      "inference_rows" -> inferenceRows, "train_pct" -> trainPct)))
    Checkpoint.writeDriverFile(spark, s"$metaDir/_SUCCESS", "")
  }
}
