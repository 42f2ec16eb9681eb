package graft

import org.apache.spark.sql.SparkSession

import graft.sources.TranscriptSource

/** spark-submit entry point for the checkpointed backfill — the user
  * contract the reference exposes through its Step Functions CLI args
  * (spark_jobs/silver_and_gold.py:183-196: input/output paths + window
  * parameters, stream_pipeline.asl.json:41):
  *
  * {{{
  * spark-submit --class graft.BackfillCli <engine.jar> \
  *   --bronze   s3://bucket/bronze            (parquet or NDJSON[.gz])
  *   --out      s3://bucket/medallion         (gold/, _meta/; silver/ with
  *                                             --materialize-silver — by default
  *                                             silver is a projection of gold)
  *   --start    2024-01-01T00:00:00Z          (first slice start, ISO-8601 or epoch secs)
  *   --slice-secs 86400                       (slice width)
  *   --slices   30                            (number of slices)
  *   [--format parquet|json]                  (default parquet)
  *   [--session-gap-secs 1800]
  *   [--segment-secs 604800]                  (time chunk of the ts-inverted reroute's
  *                                             range features)
  *   [--materialize-silver]                   (also write a physical silver/ copy;
  *                                             by default silver is served as a
  *                                             projection of the gold files)
  *   [--late-policy ignore|collect|reprocess] (rows landing in committed slices:
  *                                             queue to <out>/_late / recompute)
  * }}}
  *
  * Re-running the same command resumes: committed slices are skipped,
  * interrupted ones are idempotently overwritten (Checkpoint).
  */
object BackfillCli {

  final case class Args(
      bronze: String = null,
      out: String = null,
      startSec: Long = -1L,
      sliceSecs: Long = 86400L,
      nSlices: Int = -1,
      format: String = "parquet",
      sessionGapSecs: Long = 1800L,
      segmentSecs: Long = 604800L,
      latePolicy: String = "ignore",
      materializeSilver: Boolean = false)

  private[graft] def parseEpoch(s: String): Long =
    try java.time.Instant.parse(s).getEpochSecond
    catch {
      case _: java.time.format.DateTimeParseException =>
        try java.time.LocalDate.parse(s).atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
        catch {
          case _: java.time.format.DateTimeParseException =>
            // pure (possibly negative) integer = epoch seconds
            if (s.nonEmpty && s.drop(if (s.startsWith("-")) 1 else 0).forall(_.isDigit))
              s.toLong
            else throw new IllegalArgumentException(
              s"--start: '$s' is neither ISO-8601 instant (2024-01-01T00:00:00Z), " +
                "ISO date (2024-01-01), nor epoch seconds")
        }
    }

  private[graft] def parse(argv: Seq[String]): Args = {
    def loop(rest: List[String], a: Args): Args = rest match {
      case "--bronze" :: v :: t           => loop(t, a.copy(bronze = v))
      case "--out" :: v :: t              => loop(t, a.copy(out = v))
      case "--start" :: v :: t            => loop(t, a.copy(startSec = parseEpoch(v)))
      case "--slice-secs" :: v :: t       => loop(t, a.copy(sliceSecs = v.toLong))
      case "--slices" :: v :: t           => loop(t, a.copy(nSlices = v.toInt))
      case "--format" :: v :: t           => loop(t, a.copy(format = v))
      case "--session-gap-secs" :: v :: t => loop(t, a.copy(sessionGapSecs = v.toLong))
      case "--segment-secs" :: v :: t     => loop(t, a.copy(segmentSecs = v.toLong))
      case "--late-policy" :: v :: t      => loop(t, a.copy(latePolicy = v))
      case "--materialize-silver" :: t    => loop(t, a.copy(materializeSilver = true))
      case Nil                            => a
      case other :: _ =>
        throw new IllegalArgumentException(s"unknown or incomplete argument: $other")
    }
    val a = loop(argv.toList, Args())
    require(a.bronze != null, "--bronze is required")
    require(a.out != null, "--out is required")
    require(a.startSec >= 0, "--start is required")
    require(a.nSlices > 0, "--slices is required")
    require(a.sliceSecs > 0, "--slice-secs must be positive")
    require(Set("ignore", "collect", "reprocess")(a.latePolicy),
      "--late-policy must be ignore|collect|reprocess")
    a
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toIndexedSeq)
    // on a cluster, master/executors come from spark-submit; local
    // fallback keeps the CLI runnable standalone
    val spark = SparkSession.builder()
      .appName("graft-backfill")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    val bronze = a.format match {
      case "json" => TranscriptSource.readJson(spark, a.bronze)
      case _      => TranscriptSource.readParquet(spark, a.bronze)
    }
    // late-data policy (SURVEY §2.10): `collect` routes rows whose ts
    // lands in a committed slice to <out>/_late; `reprocess` collects,
    // invalidates the affected slices and recomputes them
    if (a.latePolicy != "ignore") {
      val n = Backfill.collectLate(spark, bronze, a.out, a.startSec, a.sliceSecs)
      println(s"[backfill] late-data queue: $n row(s) in <out>/_late")
    }
    val reports =
      if (a.latePolicy == "reprocess")
        Backfill.reprocessLate(spark, bronze, a.out, a.startSec, a.sliceSecs, a.nSlices,
          sessionGapSecs = a.sessionGapSecs, segmentSecs = a.segmentSecs,
          materializeSilver = a.materializeSilver)
      else
        Backfill.run(spark, bronze, a.out, a.startSec, a.sliceSecs, a.nSlices,
          sessionGapSecs = a.sessionGapSecs, segmentSecs = a.segmentSecs,
          materializeSilver = a.materializeSilver)
    reports.foreach { r =>
      println(s"[backfill] ${r.sliceId} rows=${r.rows} wallMs=${r.wallMs}" +
        (if (r.skipped) " (skipped: already committed)" else ""))
    }
    println(s"[backfill] done: ${reports.count(!_.skipped)} slices run, " +
      s"${reports.count(_.skipped)} skipped, ${reports.map(_.rows).sum} rows")
  }
}
