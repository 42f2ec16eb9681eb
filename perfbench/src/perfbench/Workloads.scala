package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Backfill, SparkEntry}
import graft.datasets.DatasetBuilder
import graft.gold.AsOfJoin
import graft.meta.Checkpoint
import graft.silver.SilverBuilder

/** A workload: untimed input generation, a repeatable engine warmup,
  * an optional history build, timed passes (a write phase through the
  * backfill, then the [[ReadMix]] on the gold it committed), per-layer
  * probes for the traced run, and the untimed output checks. Every
  * workload is a closed loop with one caller: each call starts when
  * the previous one returned.
  */
abstract class Workload(val spark: SparkSession, val o: Main.Opts, val out: Outcome) {
  /** Walls of the workload's unit write call (`write_p50_s`). */
  val writeSecs = mutable.ArrayBuffer.empty[Double]
  /** Gold rows the write calls produced, and their wall (`write_rows_per_s`). */
  var writeRows = 0.0
  var writeRowSecs = 0.0
  /** Per-layer values the workload knows directly (not from the listener). */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val reads = new ReadMix(this, lookups)
  /** Sequential lookups per pass. */
  protected def lookups: Int

  /** False when a pass consumes its history, so a run makes one pass. */
  def repeatable: Boolean = true
  def generate(): Unit
  /** A small write on a small input of the same shape, compiling the
    * write path; returns the gold dir it committed.
    */
  def warmup(): String
  def history(): Unit = ()
  def pass(t: Tracer): Unit
  def probes(t: Tracer): Unit
  def check(): Unit
  /** The gold table the last pass committed. */
  def goldDir: String

  def path(p: String): String = s"${o.work}/$p"
  def read(p: String): DataFrame = spark.read.parquet(p)
  private var dirs = 0
  /** A fresh directory under the work dir. */
  def fresh(prefix: String): String = { dirs += 1; path(s"${prefix}_$dirs") }

  /** A timed call: counted as attempted; an exception counts as failed. */
  def op[A](t: Tracer, name: String)(f: => A): Option[(A, Double)] = {
    out.attempted += 1
    try Some(t.span(name)(f))
    catch {
      case e: Exception =>
        out.failed += 1
        out.check(ok = false, s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}", ops = 0)
        None
    }
  }

  /** An untimed check over the output of `ops` calls; throwing fails it. */
  def verify(what: String, ops: Long)(ok: => Boolean): Unit =
    out.check(try ok catch { case e: Exception =>
      System.err.println(s"[perfbench] $what threw: $e"); false }, what, ops)

  def seededSample(df: DataFrame, n: Int): Seq[String] =
    df.select("conv_id").where(col("conv_id").isNotNull).distinct()
      .orderBy(xxhash64(lit(o.seed), col("conv_id"))).limit(n)
      .collect().map(_.getString(0)).toSeq

  protected val warmDir: String = path("warm_bronze")

  /** Write the bronze and its small warmup subset, and derive the
    * expected gold row count and the read inputs from it; returns the
    * expected row count.
    */
  protected def landBronze(df: DataFrame, dir: String, megas: Seq[String])(
      warm: DataFrame => DataFrame): Long =
    Inputs.writeBronze(df, dir, 16) { b =>
      Inputs.writeBronze(warm(b), warmDir, 2)(_ => ())
      reads.prepare(b, megas)
      Checks.expectedGoldRows(b)
    }
}

object Workload {
  def apply(name: String, spark: SparkSession, o: Main.Opts, out: Outcome): Workload = name match {
    case "bulk_skewed" => new BulkSkewed(spark, o, out)
    case "daily_uniform" => new DailyUniform(spark, o, out)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Payload of the as-of training-set batches. */
  val Payload: Seq[String] = Seq("turn_idx", "turns_cnt_1h", "chars_sum_1h", "tool_distinct_24h", "session_id")
}

/** Bulk backfill of a skewed table: one `Backfill.run` per pass with
  * the settings of the engine's production bulk call
  * (`Bench.runBackfill`: 10-day slices from the generator's epoch,
  * budget-gated skew dispatch; at this slice width the context strategy
  * resolves to `rescan`), over [[BulkSkewed.Slices]] slices. Planted
  * dense megas (over 100k turns, so the generator ticks them about a
  * second apart) are moved one per slice and hold most of each slice,
  * so one sweep+write straggler sets each slice's wall. The bronze
  * holds the days the slices cover.
  */
object BulkSkewed {
  val SliceSecs: Long = 10 * Inputs.Day
  val Slices = 2
  val Megas: Int = Slices
  val EndSec: Long = Inputs.Epoch + Slices * SliceSecs

  def backfill(spark: SparkSession, bronze: DataFrame, dir: String, slices: Int): Seq[Backfill.SliceReport] =
    Backfill.run(spark, bronze, dir, Inputs.Epoch, SliceSecs, slices,
      skewHeavyThreshold = Some(10000000L), segmentSecs = 302400L)
}

final class BulkSkewed(spark: SparkSession, o: Main.Opts, out: Outcome) extends Workload(spark, o, out) {
  import BulkSkewed._
  private val bronzeDir = path("bronze")
  private var expectedRows = 0L
  private var sample = Seq.empty[String]
  private var lastOut: Option[String] = None
  private var calls = 0
  private val queries = new QueryProbe(this)
  protected def lookups: Int = 40

  def generate(): Unit = {
    val megas = Inputs.megaIds(spark, o.seed, Megas)
    expectedRows = landBronze(Inputs.transcripts(spark, o.seed, nConvs = 8000, megaConvs = Megas,
      megaTurns = 100001, maxOffsetSecs = Inputs.Day, megaSpacingSecs = SliceSecs, cacheDir = o.cache)
      .filter(col("ts") < timestamp_seconds(lit(EndSec))), bronzeDir, megas) { b =>
      // the same shape, ~1/20 of it: a twentieth of the conversations
      // and the megas' first 5000 turns
      b.filter(pmod(xxhash64(col("conv_id")), lit(20L)) === 0 ||
        (col("conv_id").isin(megas: _*) && col("turn_idx") < 5000))
    }
    sample = reads.sample
  }

  def warmup(): String = {
    val dir = fresh("warm_out")
    backfill(spark, read(warmDir), dir, Slices)
    dir
  }

  def pass(t: Tracer): Unit = {
    calls += 1
    val dir = fresh("out")
    op(t, "backfill.run")(backfill(spark, read(bronzeDir), dir, Slices)).foreach { case (reports, secs) =>
      val written = reports.map(_.rows).sum
      writeSecs += secs
      writeRows += written
      writeRowSecs += secs
      layer("backfill.slice_s.p50") = Stats.median(reports.map(_.wallMs / 1e3))
      layer("backfill.slice_s.max") = reports.map(_.wallMs / 1e3).max
      verify(s"bulk gold rows ($written) == distinct validated bronze keys ($expectedRows)", 1)(
        written == expectedRows && read(s"$dir/gold").count() == expectedRows)
      verify("bulk slices all committed", 1)(
        Checks.allCommitted(spark, dir, Inputs.Epoch, SliceSecs, Slices))
    }
    lastOut.foreach(Files.rm)
    lastOut = Some(dir)
    reads.run(t, dir)
  }

  def goldDir: String = lastOut.getOrElse("")

  def probes(t: Tracer): Unit = lastOut.foreach { dir =>
    Layers.goldLayout(this, dir, expectedRows)
    Layers.silverProbe(this, t, read(bronzeDir))
    Layers.metaProbe(this, t, dir)
    reads.probes()
    queries.run(t)
  }

  def check(): Unit = lastOut.foreach { dir =>
    verify("bulk sampled conversations == declarative gold", calls)(
      Checks.goldMatchesDeclarative(read(s"$dir/gold"), read(bronzeDir), Some(sample)))
    reads.check(dir, expectedRows)
    queries.check()
  }
}

/** A daily scheduler over a mega-free table: a committed history of
  * [[DailyUniform.HistorySlices]] 1-day slices (the 7-day lookback is
  * saturated), then [[DailyUniform.Increments]] one-slice resumes (a
  * `compactStateEvery` = 16 boundary falls inside), then one seeded
  * late batch three days back: `collectLate` + `reprocessLate`. The
  * bronze holds the days up to the last slice, as a scheduler sees it.
  */
object DailyUniform {
  val HistorySlices = 8
  val Increments = 16
  val Total: Int = HistorySlices + Increments
  val LateSlice: Int = Total - 3
  val EndSec: Long = Inputs.Epoch + Total * Inputs.Day
}

final class DailyUniform(spark: SparkSession, o: Main.Opts, out: Outcome) extends Workload(spark, o, out) {
  import DailyUniform._
  private val fullDir = path("bronze_full")
  private val baseDir = path("bronze_base")
  private var hist = ""
  private var expectedRows = 0L
  private var expectedLate = 0L
  private var lateRows = -1L
  private var rerun = -1
  private var lateConvs = Seq.empty[String]
  override def repeatable: Boolean = false
  protected def lookups: Int = 10

  private def run(bronze: String, dir: String, n: Int): Seq[Backfill.SliceReport] =
    Backfill.run(spark, read(bronze), dir, Inputs.Epoch, Inputs.Day, n)

  def generate(): Unit = {
    val lateStart = Inputs.Epoch + LateSlice * Inputs.Day
    val late = Inputs.lateRows(o.seed, lateStart, lateStart + Inputs.Day, oneIn = 50)
    val full = Inputs.transcripts(spark, o.seed, nConvs = 20000, megaConvs = 0, megaTurns = 0,
      maxOffsetSecs = Inputs.Day, cacheDir = o.cache).filter(col("ts") < timestamp_seconds(lit(EndSec)))
    expectedRows = Inputs.writeBronze(full, fullDir, 24) { f =>
      Inputs.writeBronze(f.filter(!late), baseDir, 24)(_ => ())
      Inputs.writeBronze(f.filter(pmod(xxhash64(col("conv_id")), lit(10L)) === 0 &&
        col("ts") < timestamp_seconds(lit(Inputs.Epoch + 2 * Inputs.Day))), warmDir, 2)(_ => ())
      reads.prepare(f, Nil)
      val baseKeys = SilverBuilder.validate(f.filter(!late)).select("conv_id", "turn_idx")
      val missing = SilverBuilder.validate(f.filter(late))
        .join(baseKeys, Seq("conv_id", "turn_idx"), "left_anti").persist()
      expectedLate = missing.count()
      lateConvs = missing.select("conv_id").distinct().collect().map(_.getString(0)).toSeq
      missing.unpersist()
      Checks.expectedGoldRows(f)
    }
  }

  def warmup(): String = {
    val dir = fresh("warm_out")
    run(warmDir, dir, 2)
    dir
  }

  override def history(): Unit = {
    if (hist.nonEmpty) Files.rm(hist)
    hist = fresh("hist")
    run(baseDir, hist, HistorySlices)
    ()
  }

  def pass(t: Tracer): Unit = {
    val walls = mutable.ArrayBuffer.empty[Double]
    (HistorySlices + 1 to Total).foreach { n =>
      op(t, "backfill.increment")(run(baseDir, hist, n)).foreach { case (reports, secs) =>
        val ran = reports.filterNot(_.skipped)
        writeSecs += secs
        writeRows += ran.map(_.rows).sum
        writeRowSecs += secs
        walls ++= ran.map(_.wallMs / 1e3)
        verify("increment ran exactly one new slice", 1)(ran.size == 1)
      }
    }
    layer("backfill.slice_s.p50") = Stats.median(walls.toSeq)
    layer("backfill.slice_s.max") = if (walls.isEmpty) 0.0 else walls.max
    op(t, "late.collect")(Backfill.collectLate(spark, read(fullDir), hist, Inputs.Epoch, Inputs.Day))
      .foreach { case (n, secs) => lateRows = n; writeRowSecs += secs; layer("late.collect_s") = secs }
    op(t, "late.reprocess")(Backfill.reprocessLate(spark, read(fullDir), hist, Inputs.Epoch,
      Inputs.Day, Total)).foreach { case (reports, secs) =>
      rerun = reports.count(!_.skipped)
      writeRows += reports.filterNot(_.skipped).map(_.rows).sum
      writeRowSecs += secs
      layer("late.reprocess_s") = secs
    }
    layer("late.rows") = lateRows.toDouble
    layer("late.slices_rerun") = rerun.toDouble
    reads.run(t, hist)
  }

  def goldDir: String = hist

  def probes(t: Tracer): Unit = {
    Layers.goldLayout(this, hist, expectedRows)
    Layers.silverProbe(this, t, read(fullDir))
    Layers.metaProbe(this, t, hist)
    reads.probes()
  }

  def check(): Unit = {
    val ops = Increments + 2L
    verify("daily slices all committed", ops)(
      Checks.allCommitted(spark, hist, Inputs.Epoch, Inputs.Day, Total))
    verify(s"daily late rows queued ($lateRows) == rows held back ($expectedLate)", 1)(
      lateRows == expectedLate && expectedLate > 0)
    verify(s"daily late reprocess re-ran the late slice onward ($rerun)", 1)(rerun == Total - LateSlice)
    verify(s"daily gold rows == distinct validated bronze keys ($expectedRows)", ops)(
      read(s"$hist/gold").count() == expectedRows)
    verify("daily gold of late-touched and sampled conversations == declarative gold", ops)(
      Checks.goldMatchesDeclarative(read(s"$hist/gold"), read(fullDir), Some(lateConvs ++ reads.sample)))
    reads.check(hist, expectedRows)
  }
}

/** The read calls of a pass, against the gold the pass committed: one
  * `DatasetBuilder.writeAll`, one `asOfAuto` training-set batch written
  * to parquet (a query per ~10 turns, 60 s after the turn), then
  * sequential small-key `latestForKeys` lookups
  * (every fourth holds a mega-conversation key when the table has
  * megas).
  */
object ReadMix {
  val KeysPerLookup = 10
}

final class ReadMix(w: Workload, lookupCount: Int) {
  import ReadMix._
  private def spark = w.spark
  val lookupSecs = mutable.ArrayBuffer.empty[Double]
  val datasetsSecs = mutable.ArrayBuffer.empty[Double]
  var asOfRows = 0.0
  var asOfSecs = 0.0
  /** Wall of each pass's read calls together (`read_s`). */
  val passSecs = mutable.ArrayBuffer.empty[Double]
  private lazy val queriesDir = w.path("asof_queries")
  private var lookupKeys = Seq.empty[Seq[String]]
  private var nQueries = 0L
  var sample = Seq.empty[String]
  private var passes = 0
  private val lookups = mutable.ArrayBuffer.empty[(Seq[String], Seq[Row])]
  private var datasetsDir = ""
  private var asOfDir = ""

  private def gold(dir: String): DataFrame = w.read(s"$dir/gold").drop("slice_id")

  /** An `asOfAuto` batch; per-conversation history sizes come from the
    * checkpoint state, as the engine's bench derives them (no scan of
    * the history).
    */
  private def asOfBatch(queries: DataFrame, dir: String): DataFrame =
    AsOfJoin.asOfAuto(queries, gold(dir), Workload.Payload, convSizes = Some(
      Checkpoint.readConvStateDeltas(spark, dir, Long.MaxValue)
        .select(col("conv_id"), (col("st_last_turn_idx") + 1L).as("count"))))

  private def keysFrame(keys: Seq[String]): DataFrame =
    spark.createDataFrame(keys.map(Tuple1(_))).toDF("conv_id")

  /** Seeded read inputs from the (persisted) bronze. */
  def prepare(bronze: DataFrame, megas: Seq[String]): Unit = {
    SilverBuilder.validate(bronze)
      .filter(pmod(xxhash64(lit(w.o.seed), col("conv_id"), col("turn_idx")), lit(10L)) === 0)
      .select(col("conv_id"), (col("ts") + expr("INTERVAL 60 SECONDS")).as("ts"))
      .write.mode("overwrite").parquet(queriesDir)
    nQueries = w.read(queriesDir).count()
    val keys = w.seededSample(bronze.filter(!col("conv_id").isin(megas: _*)), lookupCount * KeysPerLookup)
    lookupKeys = keys.grouped(KeysPerLookup).toSeq.zipWithIndex.map { case (ks, i) =>
      if (i % 4 == 0 && megas.nonEmpty) megas(i / 4 % megas.size) +: ks.tail else ks
    }
    sample = keys.take(20)
  }

  /** The read calls on a small committed gold: `writeAll` and the as-of
    * batch once, and the pass's lookup keys, so the planner paths the
    * many small lookups take are compiled before they are timed.
    */
  def warm(dir: String): Unit = {
    val g = gold(dir)
    val (ds, asOf) = (w.fresh("warm_datasets"), w.fresh("warm_asof"))
    DatasetBuilder.writeAll(g, ds, "warm")
    asOfBatch(g.select(col("conv_id"), col("ts")), dir).write.parquet(asOf)
    lookupKeys.foreach(keys => AsOfJoin.latestForKeys(g, keysFrame(keys)).collect())
    Files.rm(ds)
    Files.rm(asOf)
  }

  def run(t: Tracer, dir: String): Unit = {
    passes += 1
    val g = gold(dir)
    if (datasetsDir.nonEmpty) Files.rm(datasetsDir)
    datasetsDir = w.fresh("datasets")
    val datasets = w.op(t, "datasets.write_all")(
      DatasetBuilder.writeAll(g, datasetsDir, s"perfbench-${w.o.seed}")).map(_._2)
    datasetsSecs ++= datasets
    val q = w.read(queriesDir)
    if (asOfDir.nonEmpty) Files.rm(asOfDir)
    asOfDir = w.fresh("asof")
    val asOf = w.op(t, "asof.batch")(asOfBatch(q, dir).write.parquet(asOfDir)).map(_._2)
    asOf.foreach { secs => asOfRows += nQueries; asOfSecs += secs }
    lookups.clear()
    val looked = lookupRound(t, dir, "lookup")
    lookupSecs ++= looked
    passSecs += datasets.sum + asOf.sum + looked.sum
    w.layer("lookup.rows_returned") = lookups.map(_._2.size).sum.toDouble
  }

  /** A round of the sequential lookups, the first `limit` of them
    * (results kept for the checks); returns each call's wall.
    */
  def lookupRound(t: Tracer, dir: String, span: String, limit: Int = Int.MaxValue): Seq[Double] = {
    val g = gold(dir)
    lookupKeys.take(limit).flatMap { keys =>
      w.op(t, span)(AsOfJoin.latestForKeys(g, keysFrame(keys)).collect().toSeq).map { case (got, secs) =>
        lookups += ((keys, got))
        secs
      }
    }
  }

  def probes(): Unit = {
    Stats.tail(lookupSecs.toSeq).foreach { case (v, pct) =>
      w.layer("lookup.tail_s") = v
      w.layer("lookup.tail_pct") = pct
    }
    w.layer("lookup.samples") = lookupSecs.size.toDouble
    w.layer("lookup.p50_s") = Stats.median(lookupSecs.toSeq)
    w.layer("asof.queries_per_s") = asOfRows / asOfSecs
    w.layer("datasets.write_s") = Stats.median(datasetsSecs.toSeq)
  }

  def check(dir: String, expectedRows: Long): Unit = {
    val g = gold(dir)
    w.verify("as-of batch == oracle on sampled conversations", passes)(
      Checks.asOfMatchesOracle(w.read(asOfDir), w.read(queriesDir), g, Workload.Payload, sample.take(10)))
    val expected = Checks.latestRows(g, lookupKeys.flatten)
    lookups.foreach { case (keys, got) =>
      w.verify(s"lookup == latestPerKey for ${keys.mkString(",")}", 1)(
        Checks.lookupMatches(got, keys, expected))
    }
    w.verify("datasets: train + validation == gold rows, inference non-empty", passes) {
      val m = spark.read.json(s"$datasetsDir/metadata").head()
      m.getAs[Long]("train_rows") + m.getAs[Long]("validation_rows") == expectedRows &&
        m.getAs[Long]("inference_rows") > 0
    }
  }
}

/** The registered `SparkEntry.queries` over the sf0.1 tables, rows
  * permuted by the seed, each timed to its output digest and checked
  * against the digest pinned from the DuckDB oracle. Runs in the
  * traced run only (the per-layer `query.<name>_s` metrics).
  */
final class QueryProbe(w: Workload) {
  private val queries = SparkEntry.queries.toSeq.sortBy(_._1)
  private val digests = mutable.ArrayBuffer.empty[(String, Digest)]

  def run(t: Tracer): Unit = {
    val dir = w.path("sf")
    Inputs.writeQueryTables(w.spark, w.o.seed, s"${w.o.data}/sf0.1", dir)
    queries.foreach { case (name, fn) =>
      w.op(t, Layers.ProbePrefix + s"query.$name")(Digest.of(fn(w.spark, dir)))
        .foreach { case (d, _) => digests += name -> d }
      w.spark.catalog.clearCache()
    }
  }

  def check(): Unit = if (digests.nonEmpty) {
    val pinned = Pinned.load(s"${w.o.data}/oracle_digests.json")
    digests.foreach { case (name, d) =>
      w.verify(s"$name digest == DuckDB oracle digest", 1)(pinned.get(name).contains(d))
    }
  }
}
