package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.meta.FanOutParquet

/** The fan-out parquet writer: a task above [[FanOutParquet.InlineRows]]
  * rows writes sibling files whose rows are those of a plain parquet
  * write; a smaller or empty task writes what parquet writes; a lane's
  * failure fails the task with its cause and leaves no lane running.
  */
class FanOutParquetSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val n = FanOutParquet.InlineRows

  /** `rows` rows in `parts` partitions: strings, nulls, longs, dates. */
  private def frame(rows: Long, parts: Int): DataFrame =
    spark.range(0, rows, 1, parts).select(
      col("id"),
      concat(lit("row "), col("id"), lit(" "), repeat(lit("x"), (col("id") % 37).cast("int"))).as("text"),
      when(col("id") % 5 === 0, lit(null)).otherwise(col("id") % 7).as("bucket"),
      date_add(lit(java.sql.Date.valueOf("2024-01-01")), (col("id") % 30).cast("int")).as("dt"))

  private def dataFiles(dir: String): Seq[String] = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).toSeq
  }

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema == b.schema)
    assert(a.count() == b.count())
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  private def writeBoth(df: DataFrame): (String, String) = {
    val dir = Files.createTempDirectory("fanout").toString
    df.write.format(FanOutParquet.name).save(s"$dir/fan")
    df.write.parquet(s"$dir/plain")
    (s"$dir/fan", s"$dir/plain")
  }

  private def laneThreads: Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq.filter(_.getName.startsWith(FanOutParquet.LanePrefix))

  test("a partition above InlineRows writes sibling files whose rows equal a plain parquet write") {
    val (fan, plain) = writeBoth(frame(3L * n, 1))
    val files = dataFiles(fan)
    assert(files.size > 1, files.mkString(", "))
    // the task's own file and its siblings <name>-f<i>.<ext>
    val own = files.filterNot(_.matches(""".*-f\d+\..*"""))
    assert(own.size == 1 && files.size <= 1 + FanOutParquet.MaxLanes, files.mkString(", "))
    val stem = own.head.stripSuffix(".snappy.parquet")
    assert(files.filter(_ != own.head).forall(_.startsWith(s"$stem-f")), files.mkString(", "))
    sameRows(spark.read.parquet(fan), spark.read.parquet(plain))
    assert(laneThreads.isEmpty && FanOutParquet.lanesInUse == 0)
  }

  test("a partition below InlineRows writes one file; an empty partition writes what parquet writes") {
    val (fan, plain) = writeBoth(frame(n - 1L, 1))
    assert(dataFiles(fan).size == 1)
    sameRows(spark.read.parquet(fan), spark.read.parquet(plain))
    val (emptyFan, emptyPlain) = writeBoth(frame(0L, 1))
    assert(dataFiles(emptyFan).size == dataFiles(emptyPlain).size)
    sameRows(spark.read.parquet(emptyFan), spark.read.parquet(emptyPlain))
  }

  test("concurrent oversize tasks never hold more lanes than task slots") {
    val slots = org.apache.spark.sql.GraftInternalAccess.taskSlots(spark.sparkContext)
    assert(slots == 4)
    val peak = new java.util.concurrent.atomic.AtomicInteger()
    FanOutParquet.afterLanesStart = _ => { peak.accumulateAndGet(FanOutParquet.lanesInUse, math.max); () }
    try {
      val (fan, plain) = writeBoth(frame(8L * n, 4))
      assert(peak.get > 0 && peak.get <= slots, s"peak ${peak.get} lanes, $slots slots")
      sameRows(spark.read.parquet(fan), spark.read.parquet(plain))
    } finally FanOutParquet.afterLanesStart = _ => ()
    assert(laneThreads.isEmpty && FanOutParquet.lanesInUse == 0)
  }

  test("a lane that throws fails the task with that cause, and no lane thread stays alive") {
    val dir = Files.createTempDirectory("fanout_fail").toString
    val ex = intercept[Exception] {
      frame(3L * n, 1).write.format(classOf[LaneFailingParquet].getName).save(s"$dir/out")
    }
    val chain = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage == LaneFailingParquet.Message), chain.map(_.toString).mkString(" <- "))
    assert(chain.exists(_.getMessage.contains("fan-out lane")), chain.map(_.toString).mkString(" <- "))
    assert(laneThreads.isEmpty, laneThreads.map(_.getName).mkString(", "))
    assert(FanOutParquet.lanesInUse == 0)
  }
}

/** Parquet through the fan-out writer, whose sibling files throw after
  * their first rows.
  */
class LaneFailingParquet extends ParquetFileFormat {
  override def prepareWrite(spark: SparkSession, job: Job, options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    val inner = super.prepareWrite(spark, job, options, dataSchema)
    new FanOutParquet.Factory(new OutputWriterFactory {
      override def getFileExtension(c: TaskAttemptContext): String = inner.getFileExtension(c)
      override def newInstance(path: String, schema: StructType, c: TaskAttemptContext): OutputWriter = {
        val out = inner.newInstance(path, schema, c)
        if (!new Path(path).getName.matches(""".*-f\d+\..*""")) out
        else new OutputWriter {
          private var rows = 0
          override def write(row: InternalRow): Unit = {
            rows += 1
            if (rows > 100) throw new IllegalStateException(LaneFailingParquet.Message)
            out.write(row)
          }
          override def close(): Unit = out.close()
          override def path(): String = out.path()
        }
      }
    }, slots = 4)
  }
}

object LaneFailingParquet {
  val Message = "injected lane failure"
}
