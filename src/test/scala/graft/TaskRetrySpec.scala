package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.TranscriptGen
import graft.meta.{Checkpoint, FanOutParquet}

/** Task retries (`local[4,3]`: a failed task runs again, up to 3
  * attempts): a gold write task that fails after its fan-out lanes
  * started, and whose retry succeeds, commits the same gold as a run
  * with no failure, and no file of the failed attempt survives.
  */
class TaskRetrySpec extends AnyFunSuite {
  private val start = 1704067200L
  private val sliceSecs = 8L * 86400

  private def dataFiles(fs: FileSystem, dir: Path): Seq[Path] =
    fs.listStatus(dir).toSeq.flatMap { st =>
      if (st.isDirectory) dataFiles(fs, st.getPath)
      else if (st.getPath.getName.endsWith(".parquet")) Seq(st.getPath) else Nil
    }

  test("a fanned-out gold write task that fails its first attempt retries to the plain run's gold") {
    SparkTestBase.withMaster("local[4,3]") { spark =>
      val bronze = TranscriptGen.transcripts(spark, nConvs = 20, avgTurns = 12,
        megaConvs = 1, megaTurns = FanOutParquet.InlineRows + 8000).cache()
      def run(): String = {
        val dir = Files.createTempDirectory("retry").toString
        Backfill.run(spark, bronze, dir, start, sliceSecs, 2)
        dir
      }
      val plain = run()
      val attempts = new ConcurrentHashMap[Int, AtomicInteger]()
      FanOutParquet.afterLanesStart = ctx => {
        attempts.computeIfAbsent(ctx.attemptNumber(), _ => new AtomicInteger()).incrementAndGet()
        if (ctx.attemptNumber() == 0) throw new IllegalStateException("injected task failure")
      }
      val retried = try run() finally FanOutParquet.afterLanesStart = _ => ()
      assert(attempts.containsKey(0) && attempts.containsKey(1), s"attempts: $attempts")

      def gold(dir: String): DataFrame = spark.read.parquet(s"$dir/gold")
      val (a, b) = (gold(retried), gold(plain))
      assert(a.count() == b.count())
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
      def lineage(dir: String) = Checkpoint.readLineage(spark, dir)
        .select("slice_id", "dt", "row_count", "content_hash").collect().toSet
      assert(lineage(retried) == lineage(plain))

      // the retry's files alone: per slice as many as the plain run's,
      // and no attempt dir left behind
      val fs = new Path(retried).getFileSystem(spark.sparkContext.hadoopConfiguration)
      def perSlice(dir: String): Map[String, Int] =
        dataFiles(fs, new Path(s"$dir/gold")).groupBy(_.getParent.getName).map { case (k, v) => k -> v.size }
      assert(perSlice(retried) == perSlice(plain))
      assert(!dataFiles(fs, new Path(s"$retried/gold")).exists(_.toString.contains("_temporary")))
      assert(!fs.exists(new Path(s"$retried/gold/slice_id=${Backfill.sliceId(start)}/_temporary")))
      assert(FanOutParquet.lanesInUse == 0)
      bronze.unpersist()
    }
  }
}
