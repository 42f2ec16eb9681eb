package graft.gen

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic synthetic transcript generator (BASELINE.json
  * `input_hint` shape). Fully distributed and closed-form: every field
  * derives arithmetically from (conv_idx, turn_idx) via xxhash64, so
  * the same parameters always produce the same table on any cluster
  * layout — no RNG state, no wall clock (reference defect D7), no
  * driver-side row loops.
  *
  * Mirrors the shape of the reference's fixture generator
  * (scripts/transform_and_prepare_sample_data.py) but scaled: zipf-ish
  * conversation sizes with optional planted mega-conversations (the
  * skew a mega brings to its gold-sweep task and to the as-of join's
  * segmented form), mixed inter-turn gaps including
  * > session-threshold breaks, ~20 distinct tools, and optional
  * anomaly injection (duplicate (conv_id, turn_idx) rows, null
  * conv_ids) for silver-layer tests.
  */
object TranscriptGen {

  private val words: Seq[String] = Seq(
    "the", "a", "of", "and", "to", "query", "plan", "join", "scan", "sort",
    "merge", "filter", "window", "agg", "shuffle", "partition", "broadcast",
    "table", "row", "column", "key", "hash", "range", "stream", "batch",
    "tool", "call", "result", "error", "retry", "state", "turn", "reply",
    "data", "file", "read", "write", "commit", "check", "model", "token",
    "text", "user", "agent", "step", "trace", "span", "event", "log", "run")

  /** Generate `nConvs` conversations with zipf-ish sizes around
    * `avgTurns`, plus `megaConvs` planted conversations of `megaTurns`
    * turns each. Epoch base is 2024-01-01 00:00:00 UTC.
    */
  def transcripts(
      spark: SparkSession,
      nConvs: Long,
      avgTurns: Int = 20,
      megaConvs: Int = 0,
      megaTurns: Int = 0,
      injectAnomalies: Boolean = false): DataFrame = {

    val baseEpoch = 1704067200L // 2024-01-01T00:00:00Z, fixed (no wall clock)

    val meta = spark.range(nConvs).toDF("conv_idx")
      .withColumn("n_turns",
        when(col("conv_idx") < megaConvs, lit(megaTurns))
          .otherwise(greatest(lit(2),
            (lit(avgTurns * 3) / pow(col("conv_idx") % 1000 + 1, 0.7)).cast("int"))))
      // stagger conversation starts across ~30 days; mega-conversations
      // start early so their long span stays inside the backfill window
      .withColumn("conv_start",
        when(col("conv_idx") < megaConvs, lit(baseEpoch) + col("conv_idx") * 3600L)
          .otherwise(lit(baseEpoch) + pmod(xxhash64(col("conv_idx"), lit("start")), lit(2592000L))))

    val turns = meta
      .withColumn("turn_idx", explode(sequence(lit(0), col("n_turns") - 1)))

    val h = xxhash64(col("conv_idx"), col("turn_idx"))
    // inter-turn gap: mostly seconds-scale, ~1/16 of turns open a new
    // session with a > 1800 s break. Mega-conversations (agent loops)
    // tick fast with rare breaks so even 10^5-turn conversations stay
    // inside a ~month of event time.
    val gap = when(col("turn_idx") === 0, lit(0L))
      .when(col("n_turns") > 100000,
        // dense agent loop (sub-3s ticks, rare session breaks): a
        // multi-million-turn conversation must FIT inside a ~month of
        // event time to actually stress the skew path at bench scale
        when(pmod(h, lit(8192)) === 0, lit(1801L) + pmod(h, lit(1800L)))
          .otherwise(pmod(h, lit(3L))))
      .when(col("n_turns") > 5000,
        when(pmod(h, lit(512)) === 0, lit(1801L) + pmod(h, lit(1800L)))
          .otherwise(lit(1L) + pmod(h, lit(30L))))
      .when(pmod(h, lit(16)) === 0, lit(3600L) + pmod(h, lit(7200L)))
      .otherwise(lit(5L) + pmod(h, lit(240L)))

    val wConv = Window.partitionBy(col("conv_idx")).orderBy(col("turn_idx"))
    val withTs = turns
      .withColumn("_gap", gap)
      .drop("n_turns")
      .withColumn("ts_sec",
        col("conv_start") + sum(col("_gap")).over(
          wConv.rowsBetween(Window.unboundedPreceding, Window.currentRow)))

    val roleH = pmod(xxhash64(col("conv_idx"), col("turn_idx"), lit("role")), lit(10))
    val nWords = (lit(3) + pmod(xxhash64(col("conv_idx"), col("turn_idx"), lit("len")), lit(30))).cast("int")
    val wordArr = array(words.map(lit): _*)

    val base = withTs.select(
      // width 9: lpad TRUNCATES inputs longer than the pad width, so a
      // 7-wide pad silently merged distinct conversations once
      // conv_idx passed 9,999,999 (20M-conv bench inputs) — ts
      // inversions inside the merged id corrupted turn ordering
      concat(lit("conv_"), lpad(col("conv_idx").cast("string"), 9, "0")).as("conv_id"),
      col("turn_idx").cast("int").as("turn_idx"),
      when(roleH <= 3, "user").when(roleH <= 7, "assistant").otherwise("tool").as("role"),
      concat_ws(" ",
        transform(sequence(lit(0), nWords - 1),
          i => element_at(wordArr,
            (pmod(xxhash64(col("conv_idx"), col("turn_idx"), i), lit(words.size)) + 1).cast("int"))))
        .as("text"),
      when(roleH >= 8,
        concat(lit("tool_"),
          pmod(xxhash64(col("conv_idx"), col("turn_idx"), lit("tool")), lit(20)).cast("string")))
        .as("tool"),
      timestamp_seconds(col("ts_sec")).as("ts"))

    if (!injectAnomalies) base
    else {
      val dupes = base.filter(pmod(xxhash64(col("conv_id"), col("turn_idx"), lit("dup")), lit(11)) === 0)
        .withColumn("text", concat(col("text"), lit(" duplicated-later-variant")))
        .withColumn("ts", timestamp_seconds(unix_timestamp(col("ts")) + 1))
      // index-modulus (not id-hash) so small test corpora are
      // guaranteed to contain null-conv anomalies deterministically
      val nulls = base
        .filter(col("turn_idx") === 0 &&
          pmod(substring(col("conv_id"), 6, 18).cast("long"), lit(29)) === 7)
        .withColumn("conv_id", lit(null).cast("string"))
      base.unionByName(dupes).unionByName(nulls)
    }
  }
}
