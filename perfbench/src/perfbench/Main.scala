package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --data <dir> [--trace-out <file>]
  * [--cache <dir>]`.
  *
  * Order: session start, input generation (reported as `gen_s`, not
  * part of set-up), [[Main.SetupReps]] engine warmups (small writes;
  * the last one also runs each read call), the workload's history
  * build, then:
  *  - `--trace 0`: closed-loop timed passes until `--seconds` have
  *    passed (at least one), then the end-to-end metrics;
  *  - `--trace 1`: one pass under the span recorder, the layer probes,
  *    then the per-layer metrics. `trace.overhead_frac` compares the
  *    traced lookups with an untraced round of ten of them.
  *
  * `setup_s` is the session start plus the median warmup plus the
  * history build. The untimed output checks run last; the final stdout
  * line is the result object.
  */
object Main {
  val SetupReps = 3

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, data: String, traceOut: Option[String], cache: Option[String])

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("work"), m("data"), m.get("trace-out"), m.get("cache"))
  }

  def cores: Int = Runtime.getRuntime.availableProcessors()

  /** The engine's own bench session settings at `local[cores]`; Spark's
    * local dir comes from SPARK_GRAFT_WORK_DIR (set by run.py).
    */
  def session(): SparkSession = {
    val s = graft.Bench.session(cores.toString)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val out = new Outcome
    val t0 = System.nanoTime()
    val spark = session()
    val sessionSecs = secsSince(t0)
    val w = Workload(o.workload, spark, o, out)

    val tg = System.nanoTime()
    w.generate()
    println(f"[perfbench] ${o.workload} seed=${o.seed} cores=$cores gen_s=${secsSince(tg)}%.3f")

    val warmups = (1 to SetupReps).map { rep =>
      val ts = System.nanoTime()
      val dir = w.warmup()
      if (rep == SetupReps) w.reads.warm(dir)
      Files.rm(dir)
      secsSince(ts)
    }
    val th = System.nanoTime()
    w.history()
    val historySecs = secsSince(th)
    val setupSecs = sessionSecs + Stats.median(warmups) + historySecs
    println(f"[perfbench] session_s=$sessionSecs%.3f warmups_s=${warmups.map(s => f"$s%.3f").mkString(",")} history_s=$historySecs%.3f")

    val plain = new Tracer(spark.sparkContext, traced = false)
    if (o.trace) {
      val tracer = new Tracer(spark.sparkContext, traced = true)
      w.pass(tracer)
      // lookups, the smallest call, untraced then traced again on the
      // same gold: the overhead estimate is the upper end for larger calls
      val untraced = w.reads.lookupRound(plain, w.goldDir, "lookup", limit = 10)
      val traced = w.reads.lookupSecs.toSeq ++
        w.reads.lookupRound(tracer, w.goldDir, Layers.ProbePrefix + "lookup", limit = 10)
      w.probes(tracer)
      val trace = tracer.finish()
      o.traceOut.foreach { f =>
        val p = java.nio.file.Paths.get(f)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, trace.toJson)
      }
      w.check()
      Layers.report(trace, w, out, Stats.median(traced) / Stats.median(untraced) - 1.0)
    } else {
      val passWalls = mutable.ArrayBuffer.empty[Double]
      val deadline = System.nanoTime() + o.seconds * 1000000000L
      do {
        val tp = System.nanoTime()
        w.pass(plain)
        passWalls += secsSince(tp)
      } while (w.repeatable && System.nanoTime() < deadline)
      println(f"[perfbench] passes=${passWalls.size} pass_s=${passWalls.map(s => f"$s%.3f").mkString(",")}")
      val tc = System.nanoTime()
      w.check()
      println(f"[perfbench] check_s=${secsSince(tc)}%.3f")
      out.metric("setup_s", setupSecs, "s")
      out.metric("write_p50_s", Stats.median(w.writeSecs.toSeq), "s")
      out.metric("write_rows_per_s", w.writeRows / w.writeRowSecs, "rows/s")
      out.metric("read_s", Stats.median(w.reads.passSecs.toSeq), "s")
      out.metric("peak_rss_mb", peakRssMb(), "MB")
    }
    spark.stop()
    println(out.resultLine)
    System.exit(0)
  }
}
