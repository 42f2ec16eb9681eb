package graft

import org.apache.spark.sql.functions._

/** Dev profiling harness: times each phase of one backfill slice
  * (fused-sweep edition) plus the standalone window variants.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("WARN")
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val a = f
      println(f"[profile] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s"); a
    }
    val work = java.nio.file.Files.createTempDirectory("graft_prof").toString
    val bronzeDir = sys.env.getOrElse("SPARK_GRAFT_BRONZE_DIR", s"$work/bronze")
    val turns = if (sys.env.contains("SPARK_GRAFT_BRONZE_DIR") && graft.meta.Checkpoint.pathExists(spark, bronzeDir + "/_SUCCESS")) spark.read.parquet(bronzeDir).count() else t("gen+write bronze")(Bench.writeBronze(spark, bronzeDir, sys.env.getOrElse("SPARK_GRAFT_BENCH_CONVS", "300000").toLong))
    println(s"[profile] turns=$turns")
    val bronze = spark.read.parquet(bronzeDir)
    import graft.silver.SilverBuilder
    val start = 1704067200L; val end = start + 8L * 86400
    val sliceBronze = SilverBuilder.validate(
      bronze.filter(col("ts") >= lit(java.time.Instant.ofEpochSecond(start)) &&
        col("ts") < lit(java.time.Instant.ofEpochSecond(end))))
    val deltas = graft.meta.Checkpoint.readConvStateDeltas(spark, work, start)
    val context = Backfill.contextRead(spark, s"$work/silver", "s0", start, 8L * 86400)
    val gold = graft.gold.FusedSweep.gold(deltas, context, sliceBronze)
    t("gold compute+write")(gold.write.mode("overwrite")
      .parquet(s"$work/gold/slice_id=s0"))
    val goldWritten = spark.read.parquet(s"$work/gold").filter(col("slice_id") === "s0")
    val silverCols = graft.schema.TranscriptSchema.silver.fieldNames.toSeq
    t("silver write (read-back)")(goldWritten.select(silverCols.map(col): _*)
      .write.mode("overwrite").parquet(s"$work/silver/slice_id=s0"))
    t("slice meta")(graft.meta.Checkpoint.writeConvStateDelta(work, start, graft.meta.Checkpoint.stateDeltaFromGold(goldWritten)))
    t("lineage")(graft.meta.Checkpoint.appendLineage(work, goldWritten, "s0", 1000L))
    // variants to localize window cost
    val s2 = SilverBuilder.build(sliceBronze).cache(); s2.count()
    t("fastwindows only (count)")(graft.gold.FastWindows.rangeFeatures(s2).count())
    t("declarative windows (count)")(graft.gold.FeatureWindows.rangeFeatures(s2).count())
    t("fast auto (count)")(graft.gold.FastWindows.rangeFeaturesAuto(s2, 50000L).count())
    spark.stop()
  }
}
