package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.SparkEntry
import graft.meta.Checkpoint
import graft.silver.SilverBuilder

/** Per-layer metrics of the traced run. Layers are the engine's
  * modules; each value comes from the spans of the traced pass, from
  * the listener's job/stage/task records attributed to them, from the
  * output directory, or from the JVM. A layer the workload does not
  * exercise reports 0.
  */
object Layers {
  private val queryNames = SparkEntry.queries.keys.toSeq.sorted

  /** Every per-layer metric, in output order, with its unit. */
  val Names: Seq[(String, String)] = Seq(
    "backfill.slice_s.p50" -> "s", "backfill.slice_s.max" -> "s", "backfill.driver_s" -> "s",
    "backfill.jobs" -> "count", "backfill.failed_jobs" -> "count",
    "gold.write.task_max_s" -> "s", "gold.write.task_p50_s" -> "s", "gold.write.tasks" -> "count",
    "gold.write.core_util" -> "ratio",
    "gold.files" -> "count", "gold.bytes" -> "B", "gold.bytes_per_turn" -> "B",
    "exchange.shuffle_bytes" -> "B", "exchange.spill_bytes" -> "B",
    "meta.state_read_s" -> "s", "meta.delta_dirs" -> "count", "meta.bytes" -> "B",
    "late.collect_s" -> "s", "late.reprocess_s" -> "s", "late.rows" -> "count",
    "late.slices_rerun" -> "count",
    "silver.build_s" -> "s", "silver.keep_ratio" -> "ratio",
    "asof.batch_s" -> "s", "asof.task_max_s" -> "s", "asof.shuffle_bytes" -> "B",
    "asof.queries_per_s" -> "queries/s",
    "lookup.p50_s" -> "s", "lookup.bytes_read" -> "B",
    "lookup.rows_scanned_per_row_returned" -> "ratio", "lookup.tail_s" -> "s", "lookup.tail_pct" -> "%", "lookup.samples" -> "count",
    "datasets.labels_task_max_s" -> "s", "datasets.write_s" -> "s") ++
    queryNames.map(q => s"query.${q}_s" -> "s") ++ Seq(
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB", "trace.overhead_frac" -> "ratio")

  /** Spans of layer probes run after the traced pass (not part of it). */
  val ProbePrefix = "probe."

  /** Output layout of a committed gold table. */
  def goldLayout(w: Workload, outDir: String, goldRows: Long): Unit = {
    val (files, bytes) = Files.dataFiles(s"$outDir/gold")
    w.layer("gold.files") = files.toDouble
    w.layer("gold.bytes") = bytes.toDouble
    w.layer("gold.bytes_per_turn") = bytes.toDouble / goldRows
    w.layer("meta.bytes") = Files.dataFiles(s"$outDir/_meta")._2.toDouble
  }

  /** `SilverBuilder.build` alone, to a noop sink. */
  def silverProbe(w: Workload, t: Tracer, bronze: DataFrame): Unit = {
    val (_, secs) = t.span(ProbePrefix + "silver.build") {
      SilverBuilder.build(bronze).write.format("noop").mode("overwrite").save()
    }
    w.layer("silver.build_s") = secs
    w.layer("silver.keep_ratio") = SilverBuilder.build(bronze).count().toDouble / bronze.count()
  }

  /** The checkpoint state read a resume performs, and the chain length. */
  def metaProbe(w: Workload, t: Tracer, outDir: String): Unit = {
    val spark = w.spark
    val (_, secs) = t.span(ProbePrefix + "meta.state_read") {
      Checkpoint.latestConvState(Checkpoint.readConvStateDeltas(spark, outDir, Long.MaxValue))
        .write.format("noop").mode("overwrite").save()
    }
    w.layer("meta.state_read_s") = secs
    w.layer("meta.delta_dirs") = Checkpoint.uncompactedDeltaDirs(spark, outDir, Long.MaxValue).toDouble
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def maxOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.max

  /** The stages that write gold: Spark's call site names the engine's
    * backfill source, and the stage writes output.
    */
  def goldWriteStages(t: Trace, spans: Seq[Span]): Vector[StageRec] =
    t.stagesOf(spans).filter { st =>
      st.name.contains("Backfill.scala") && t.tasksOfStages(Seq(st)).exists(_.outBytes > 0)
    }

  def report(t: Trace, w: Workload, out: Outcome, overhead: Double): Unit = {
    val v = mutable.Map.empty[String, Double] ++ w.layer
    val timed = t.spans.filter(s => s.parent == -1 && !s.name.startsWith(ProbePrefix))
    val backfill = t.named("backfill.run") ++ t.named("backfill.increment")
    if (backfill.nonEmpty) {
      val jobs = t.jobsOf(backfill)
      v("backfill.driver_s") = mean(backfill.map(t.driverSecs))
      v("backfill.jobs") = jobs.size.toDouble / backfill.size
      v("backfill.failed_jobs") = jobs.count(_.failed).toDouble
    }
    val writes = goldWriteStages(t, backfill)
    if (writes.nonEmpty) {
      val perStage = writes.map(st => (st, t.tasksOfStages(Seq(st)).map(_.secs).sorted))
      v("gold.write.task_max_s") = maxOr0(perStage.flatMap(_._2.lastOption))
      v("gold.write.task_p50_s") = Stats.median(perStage.map(x => Stats.median(x._2)))
      v("gold.write.tasks") = perStage.map(_._2.size).sum.toDouble
      val busy = perStage.flatMap(_._2).sum
      val wall = writes.map(st => (st.endMs - st.submitMs) / 1e3).sum
      v("gold.write.core_util") = busy / (wall * Main.cores)
      perStage.zipWithIndex.foreach { case ((st, ts), i) =>
        println(f"[perfbench] gold write stage $i%2d (${st.name}): tasks=${ts.size} " +
          f"max=${ts.last}%.3fs p50=${Stats.median(ts)}%.3fs wall=${(st.endMs - st.submitMs) / 1e3}%.3fs")
      }
    }
    val timedTasks = t.tasksOf(timed)
    v("exchange.shuffle_bytes") = timedTasks.map(_.shuffleWrite).sum.toDouble
    v("exchange.spill_bytes") = timedTasks.map(_.spill).sum.toDouble

    val asof = t.named("asof.batch")
    if (asof.nonEmpty) {
      v("asof.batch_s") = Stats.median(asof.map(_.secs))
      v("asof.task_max_s") = maxOr0(t.tasksOf(asof).map(_.secs))
      v("asof.shuffle_bytes") = t.tasksOf(asof).map(_.shuffleWrite).sum.toDouble / asof.size
    }
    val lookups = t.named("lookup")
    if (lookups.nonEmpty) {
      val tasks = t.tasksOf(lookups)
      v("lookup.bytes_read") = tasks.map(_.inBytes).sum.toDouble / lookups.size
      v("lookup.rows_scanned_per_row_returned") =
        tasks.map(_.inRecords).sum.toDouble / math.max(1.0, v.getOrElse("lookup.rows_returned", 0.0))
    }
    val datasets = t.named("datasets.write_all")
    if (datasets.nonEmpty) v("datasets.labels_task_max_s") = maxOr0(t.tasksOf(datasets).map(_.secs))
    queryNames.foreach { q =>
      t.named(s"${ProbePrefix}query.$q").headOption.foreach(s => v(s"query.${q}_s") = s.secs)
    }

    v("jvm.gc_s") = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
    v("jvm.heap_peak_mb") = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0
    v("trace.overhead_frac") = overhead
    Names.foreach { case (n, u) => out.metric(n, v.getOrElse(n, 0.0), u) }
  }
}
