package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.gen.TranscriptGen

/** Seeded input shaping on top of [[TranscriptGen]] (which has no
  * seed). The seed relabels `conv_id`s and offsets each conversation's
  * start; it also picks the rows a late batch holds back and the row
  * order and file split of the query-suite tables. The engine only ever
  * sees the written files.
  */
object Inputs {
  val Epoch = 1704067200L // 2024-01-01T00:00:00Z, TranscriptGen's base
  val Day = 86400L

  private def convHash(seed: Long): Column = xxhash64(lit(seed), col("conv_id"))

  /** Per-conversation relabel and start offset, so every turn keeps
    * its order within its conversation. Mega-conversation `k` (the
    * generator's `conv_idx < megaConvs`) is moved a further
    * `k * megaSpacingSecs`, spreading the megas over consecutive
    * slices.
    */
  def shape(gen: DataFrame, seed: Long, maxOffsetSecs: Long,
      megaConvs: Int = 0, megaSpacingSecs: Long = 0L): DataFrame = {
    val idx = substring(col("conv_id"), 6, 9).cast("long")
    val shift = pmod(convHash(seed), lit(maxOffsetSecs)) +
      when(idx < megaConvs, idx * megaSpacingSecs).otherwise(lit(0L))
    gen
      .withColumn("ts", timestamp_seconds(unix_timestamp(col("ts")) + shift))
      .withColumn("conv_id", relabel(seed, col("conv_id")))
  }

  /** Injective relabel: a seeded 24-bit prefix before the original id. */
  def relabel(seed: Long, convId: Column): Column =
    concat(lit("c"), lpad(hex(pmod(xxhash64(lit(seed), convId), lit(1L << 24))), 6, "0"),
      lit("_"), convId)

  /** The relabelled ids of the generator's first `n` (mega) conversations. */
  def megaIds(spark: SparkSession, seed: Long, n: Int): Seq[String] =
    spark.range(n).select(relabel(seed,
      concat(lit("conv_"), lpad(col("id").cast("string"), 9, "0"))))
      .collect().map(_.getString(0)).toSeq

  /** A seeded transcript table with the generator's anomalies on. The
    * generator's own output has no seed, so with a `cacheDir` it is
    * written there once (per build) and read back by every later run.
    */
  def transcripts(spark: SparkSession, seed: Long, nConvs: Long, megaConvs: Int, megaTurns: Int,
      maxOffsetSecs: Long, megaSpacingSecs: Long = 0L, cacheDir: Option[String] = None): DataFrame = {
    def gen = TranscriptGen.transcripts(spark, nConvs, avgTurns = 30, megaConvs = megaConvs,
      megaTurns = megaTurns, injectAnomalies = true)
    val raw = cacheDir.fold(gen) { c =>
      val p = s"$c/convs$nConvs-megas$megaConvs-turns$megaTurns"
      if (!new java.io.File(s"$p/_SUCCESS").exists) gen.write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }
    shape(raw, seed, maxOffsetSecs, megaConvs, megaSpacingSecs)
  }

  /** Rows of [from, until) that a late batch holds back: about one in
    * `oneIn`, picked by the seed.
    */
  def lateRows(seed: Long, fromSec: Long, untilSec: Long, oneIn: Int): Column =
    col("ts") >= timestamp_seconds(lit(fromSec)) && col("ts") < timestamp_seconds(lit(untilSec)) &&
      pmod(xxhash64(lit(seed), col("conv_id"), col("turn_idx"), lit("late")), lit(oneIn.toLong)) === 0

  /** Bronze as a landed layer: time-ranged files. The input stays
    * persisted while it is written and while `also` derives the
    * benchmark's own expectations from it, so it is generated once.
    */
  def writeBronze[A](df: DataFrame, path: String, files: Int)(also: DataFrame => A): A = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      p.repartitionByRange(files, col("ts")).write.mode("overwrite").parquet(path)
      also(p)
    } finally { p.unpersist(); () }
  }

  /** The query-suite tables and their id columns. */
  private val QueryTables: Seq[(String, String)] =
    Seq("events" -> "event_id", "documents" -> "doc_id", "embeddings" -> "vec_id")

  /** The query-suite tables with rows permuted and split into a seeded
    * number of files.
    */
  def writeQueryTables(spark: SparkSession, seed: Long, src: String, dst: String): Unit =
    QueryTables.foreach { case (t, id) =>
      val k = xxhash64(lit(seed), col(id))
      spark.read.parquet(s"$src/$t.parquet")
        .repartition(2 + math.floorMod(seed, 5L).toInt, k)
        .sortWithinPartitions(k)
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
}
