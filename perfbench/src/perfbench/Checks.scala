package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Backfill
import graft.gold.{AsOfJoin, FeatureWindows}
import graft.meta.Checkpoint
import graft.silver.SilverBuilder

/** Seed-independent output checks. Each returns true when the output
  * is right; none of them is timed.
  */
object Checks {
  val GoldCols: Seq[String] = Seq(
    "conv_id", "turn_idx", "role", "text", "tool", "ts", "dt",
    "turns_cnt_1h", "tool_calls_1h", "chars_sum_1h", "tool_distinct_24h", "avg_chars_7d",
    "prev_role", "gap_secs", "session_id")

  /** Rows gold must hold: distinct (conv_id, turn_idx) of validated bronze. */
  def expectedGoldRows(bronze: DataFrame): Long =
    SilverBuilder.validate(bronze).select("conv_id", "turn_idx").distinct().count()

  def allCommitted(spark: SparkSession, outDir: String, firstSec: Long, sliceSecs: Long,
      nSlices: Int): Boolean =
    Checkpoint.committedSlices(spark, outDir) ==
      (0 until nSlices).map(i => Backfill.sliceId(firstSec + i * sliceSecs)).toSet

  /** Same multiset of rows over `cols`. */
  def sameRows(a: DataFrame, b: DataFrame, cols: Seq[String]): Boolean = {
    val (x, y) = (a.select(cols.map(col): _*), b.select(cols.map(col): _*))
    x.count() == y.count() && x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
  }

  /** Gold of the given conversations equals the declarative path
    * `FeatureWindows.gold(SilverBuilder.build(bronze))`; all
    * conversations when `convs` is None.
    */
  def goldMatchesDeclarative(gold: DataFrame, bronze: DataFrame, convs: Option[Seq[String]]): Boolean = {
    val keep = (df: DataFrame) => convs.fold(df)(c => df.filter(col("conv_id").isin(c: _*)))
    sameRows(keep(gold), FeatureWindows.gold(SilverBuilder.build(keep(bronze))), GoldCols)
  }

  /** As-of output rows of the sampled conversations equal the
    * brute-force oracle, and no query row is missing or extra.
    */
  def asOfMatchesOracle(result: DataFrame, queries: DataFrame, history: DataFrame,
      payload: Seq[String], convs: Seq[String]): Boolean = {
    val cols = queries.columns.toSeq ++ payload
    val in = col("conv_id").isin(convs: _*)
    result.count() == queries.count() &&
      sameRows(result.filter(in),
        AsOfJoin.asOfOracle(queries.filter(in), history.filter(in), payload), cols)
  }

  /** One lookup's rows equal `latestPerKey` restricted to its keys. */
  def lookupMatches(got: Seq[Row], keys: Seq[String], expected: Map[String, Row]): Boolean =
    got.size == keys.flatMap(expected.get).size &&
      got.forall(r => expected.get(r.getAs[String]("conv_id")).contains(r))

  def latestRows(history: DataFrame, keys: Seq[String]): Map[String, Row] =
    AsOfJoin.latestPerKey(history.filter(col("conv_id").isin(keys.distinct: _*)))
      .collect().map(r => r.getAs[String]("conv_id") -> r).toMap
}
