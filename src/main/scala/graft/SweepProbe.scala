package graft

import org.apache.spark.sql.functions._

/** Dev probe (NOT part of the frozen driver contract): decomposes the
  * fused-sweep slice job — the backfill's wall at the bench shape is
  * ONE mega straggler task per slice — into its component ladder, each
  * step timed min-of-N against the noop sink (guide §1.4):
  *
  *   exchange            union + hash repartition, no sort
  *   exchange+sort       [[graft.gold.FusedSweep.sortedInput]] (the
  *                       exact plan the sweep consumes)
  *   +sweep              FusedSweep.gold -> noop (no side-files)
  *   +parquet            FusedSweep.gold -> parquet (the real sink)
  *
  * Differences between adjacent steps localize the mega task's cost:
  * fetch/decode, sort, sweep loop, parquet encode. Env:
  * SPARK_GRAFT_BRONZE_DIR (defaults to generating the bench bronze),
  * SPARK_GRAFT_CPUS, SPARK_GRAFT_WORK_DIR, SPARK_GRAFT_REPS.
  */
object SweepProbe {
  def main(args: Array[String]): Unit = {
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val work = Bench.newWorkDir("graft_sweep_probe")
    val bronzeDir = sys.env.getOrElse("SPARK_GRAFT_BRONZE_DIR", s"$work/bronze")
    if (!graft.meta.Checkpoint.pathExists(spark, s"$bronzeDir/_SUCCESS")) {
      val n = sys.env.getOrElse("SPARK_GRAFT_BENCH_CONVS", "300000").toLong
      Bench.writeBronze(spark, bronzeDir, n)
    }
    val bronze = spark.read.parquet(bronzeDir)

    // the bench backfill's FIRST slice (empty carried state and
    // committed context — its sweep stage already shows the full mega
    // straggler), same 10-day bounds and sweep partition count as the
    // driver bench
    val start = 1704067200L
    val end = start + 10L * 86400
    val sliceBronze = graft.silver.SilverBuilder.validate(bronze.filter(
      bronze("ts") >= lit(java.time.Instant.ofEpochSecond(start)) &&
        bronze("ts") < lit(java.time.Instant.ofEpochSecond(end))))
    val deltas = graft.meta.Checkpoint.readConvStateDeltas(spark, work, start)
    val numParts = 12 // what sweepPartitions sizes a ~90 MB slice to

    def timed(name: String)(f: => Unit): Unit = {
      val times = (1 to reps).map { _ =>
        spark.sparkContext.setJobDescription(s"sweepprobe: $name")
        val t0 = System.nanoTime()
        f
        val t = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.setJobDescription(null)
        t
      }
      println(f"[sweepprobe] $name%-16s min ${times.min}%6.2f s  " +
        times.map(t => f"$t%.2f").mkString("[", ", ", "]"))
    }

    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    import graft.gold.FusedSweep
    val exchangeOnly = FusedSweep.stateRows(deltas)
      .unionByName(FusedSweep.bronzeRows(sliceBronze))
      .repartition(numParts, col("conv_id"))
    def sorted = FusedSweep.sortedInput(deltas, sliceBronze, numParts)
    def swept = FusedSweep.gold(deltas, sliceBronze, numPartitions = Some(numParts))

    // untimed warmup of every shape (JIT/codegen, same protocol as Bench)
    noop(exchangeOnly); noop(sorted); noop(swept)
    swept.write.mode("overwrite").parquet(s"$work/gold_warm")

    timed("exchange")(noop(exchangeOnly))
    timed("exchange+sort")(noop(sorted))
    timed("+sweep")(noop(swept))
    timed("+parquet")(swept.write.mode("overwrite").parquet(s"$work/gold"))

    // §6 write-side variants: the +parquet step dominates the mega
    // task, so probe the encode knobs — dictionary encoding on the
    // high-cardinality text column is a build-then-fallback waste;
    // codec trades CPU vs bytes
    def sizeOf(dir: String): Long = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else -1L
    }
    def writeVariant(name: String, opts: Map[String, String]): Unit = {
      val dir = s"$work/gold_$name"
      timed(s"+parquet[$name]") {
        swept.write.options(opts).mode("overwrite").parquet(dir)
      }
      println(f"[sweepprobe]   size[$name] ${sizeOf(dir) / 1e6}%.1f MB (base ${sizeOf(s"$work/gold") / 1e6}%.1f MB)")
    }
    writeVariant("nodict_text", Map("parquet.enable.dictionary#text" -> "false"))
    writeVariant("nodict_all", Map("parquet.enable.dictionary" -> "false"))
    writeVariant("lz4raw", Map("compression" -> "lz4_raw"))
    writeVariant("lz4raw_nodict_text", Map(
      "compression" -> "lz4_raw", "parquet.enable.dictionary#text" -> "false"))
    writeVariant("uncompressed", Map("compression" -> "uncompressed"))

    val wp = new org.apache.hadoop.fs.Path(work)
    val fs = wp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(wp)) { fs.delete(wp, true); () }
    spark.stop()
  }
}
